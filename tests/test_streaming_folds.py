"""Streaming twins without Spark: the keyed-state runner and every fold.

The stateful twins in ``streaming.rolling`` / ``streaming.sequences``
are a pure fold ``(state, rows) -> (state, out_rows)`` run by one
runner (``_keyed_fold``). Two things are pinned here, both in pure
Python:

- the split-fold property: folding an in-order series in any
  micro-batch split, with the state round-tripped between batches as
  the state store returns it (tuples of plain values and lists), gives
  exactly the output and final state of one pass;
- the runner's per-key handler, driven with a fake ``GroupState``:
  idle-key eviction, one stable sort over all Arrow chunks of a key,
  NULL reaching the fold as ``None``, and the state/timeout/output
  protocol.

The Spark replay-parity family (stream == batch operator) lives in
``tests/slow/test_streaming.py``.
"""

from __future__ import annotations

import inspect
from functools import partial

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from amonaly_detection_in_time_series_data_spark.streaming import (
    rolling as R,
)
from amonaly_detection_in_time_series_data_spark.streaming import (
    sequences as S,
)

T0 = pd.Timestamp("2024-01-01")
HOUR_US = 3_600_000_000
TYPES = ["signup", "view", "click", "purchase", None]


def _nonnull(v):
    return 0.0 if v is None else v


# (id, fold, init, row builder (i, ts, value, event_type, flag) -> row
# tuple, compare) — compare "rows" checks every out row; "last" checks
# the final out row only (the KMV twin emits one sketch per batch)
FOLDS = [
    ("zscore", partial(R._zscore_fold, window_rows=5, threshold=1.5), ([],),
     lambda i, ts, v, e, f: (i, ts, v), "rows"),
    ("page_hinkley",
     partial(R._page_hinkley_fold, scale=100, delta_i=5, lam_i=500),
     (0, 0, 0, 0, 0, 0),
     lambda i, ts, v, e, f: (i, ts, _nonnull(v)), "rows"),
    ("ewma", partial(R._ewma_fold, window_rows=4, alpha=0.5, threshold=1.0),
     ([],), lambda i, ts, v, e, f: (i, ts, v), "rows"),
    ("hampel", partial(R._hampel_fold, window_rows=5, k=2.0), ([],),
     lambda i, ts, v, e, f: (i, ts, v), "rows"),
    ("trend_ols",
     partial(R._trend_ols_fold, scale=100, threshold=2.0, min_points=3),
     (0, 0, 0, 0, 0, 0, 0), lambda i, ts, v, e, f: (i, ts, v), "rows"),
    ("kalman", partial(R._kalman_fold, Q=0.5, R=2.0, thr=1.0), (None, None),
     lambda i, ts, v, e, f: (i, ts, _nonnull(v)), "rows"),
    ("episode", partial(R._episode_fold, gap_us=2 * HOUR_US), (-1, 0),
     lambda i, ts, v, e, f: (i, ts, v, f), "rows"),
    ("adwin", partial(R._adwin_fold, delta=0.1, max_buckets=2), ([], [], []),
     lambda i, ts, v, e, f: (i, ts, _nonnull(v)), "rows"),
    ("quantiles", partial(R._quantiles_fold, eps=0.2, qs=[0.5, 0.9]),
     ([], [], [], 0), lambda i, ts, v, e, f: (i, ts, _nonnull(v)), "rows"),
    ("throttle_quiet",
     partial(R._throttle_fold, cooldown_seconds=7200.0, policy="quiet-period"),
     (None, None), lambda i, ts, v, e, f: (i, ts, f), "rows"),
    ("throttle_fixed",
     partial(R._throttle_fold, cooldown_seconds=7200.0,
             policy="fixed-cooldown"),
     (None, None), lambda i, ts, v, e, f: (i, ts, f), "rows"),
    ("kmv", partial(R._kmv_fold, k=4, u_off=2.0**63 + 1.0, u_div=2.0**64),
     ([],), lambda i, ts, v, e, f: (None if v is None else int(v * 100),),
     "last"),
    ("theta", partial(R._theta_fold, a=0.2, mp=3),
     (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0),
     lambda i, ts, v, e, f: (ts, _nonnull(v)), "rows"),
    ("croston", partial(R._croston_fold, a=0.1, factor=0.95),
     (0.0, 0.0, False, False, 0, 0.0, 0),
     lambda i, ts, v, e, f: (ts, max(_nonnull(v), 0.0)), "rows"),
    ("transitions", R._transitions_fold, (False, None),
     lambda i, ts, v, e, f: (ts, i, e), "rows"),
    ("attribution",
     partial(R._attribution_fold, touch_set={"signup", "view", "click"},
             conv_set={"purchase"}, lookback_us=6 * HOUR_US,
             half_life_us=HOUR_US,
             models=["first", "last", "linear", "position", "decay"]),
     ([], []), lambda i, ts, v, e, f: (ts, e), "rows"),
    ("funnel", partial(R._funnel_fold, steps=["signup", "view", "purchase"],
                       within_us=None),
     (0, 0, 0), lambda i, ts, v, e, f: (ts, e), "rows"),
    ("funnel_within",
     partial(R._funnel_fold, steps=["signup", "view", "purchase"],
             within_us=5 * HOUR_US),
     (0, 0, 0), lambda i, ts, v, e, f: (ts, e), "rows"),
    ("journey", partial(R._journey_fold, k=3, sep=">"), ([], []),
     lambda i, ts, v, e, f: (ts, i, e), "rows"),
    ("sax", partial(R._sax_fold, window_rows=4, word_len=2, scale=100,
                    bps=[-0.67, 0.0, 0.67]),
     (0, 0, False, [], []), lambda i, ts, v, e, f: (ts, v), "rows"),
    ("sequences", partial(S._sequences_fold, seq_len=3), ([], []),
     lambda i, ts, v, e, f: (ts, v), "rows"),
]

RECORDS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-5000, 5000).map(lambda n: n / 100)),
        st.sampled_from(TYPES),
        st.sampled_from([0, 1, None]),
    ),
    min_size=1,
    max_size=40,
)


def _store_roundtrip(state: tuple) -> tuple:
    """What the state store hands back: a fresh tuple, arrays as lists."""
    return tuple(list(x) if isinstance(x, (list, tuple)) else x for x in state)


def _fold_batches(fold, init, batches):
    state, out = init, []
    for batch in batches:
        state, rows = fold(_store_roundtrip(state), iter(batch))
        out.extend(rows)
    return _store_roundtrip(state), out


@pytest.mark.parametrize(
    "fold,init,to_row,compare",
    [f[1:] for f in FOLDS],
    ids=[f[0] for f in FOLDS],
)
@settings(max_examples=60, deadline=None)
@given(records=RECORDS, cuts=st.lists(st.integers(0, 40), max_size=6))
def test_split_fold_equals_one_pass(fold, init, to_row, compare, records, cuts):
    rows = [
        to_row(i, T0 + pd.Timedelta(hours=i), v, e, f)
        for i, (v, e, f) in enumerate(records)
    ]
    bounds = sorted({0, len(rows), *(c for c in cuts if c < len(rows))})
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:])]

    one_state, one_out = _fold_batches(fold, init, [rows])
    split_state, split_out = _fold_batches(fold, init, batches)

    assert split_state == one_state
    if compare == "last":
        assert split_out[-1] == one_out[-1]
    else:
        assert split_out == one_out


# --- the runner's per-key handler, with a fake GroupState -----------------


class FakeState:
    """The slice of ``pyspark.sql.streaming.state.GroupState`` the
    runner uses."""

    def __init__(self, value=None, timed_out=False):
        self.value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return _store_roundtrip(self.value)

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _recording_fold(state, rows):
    rows = list(rows)
    return (state[0] + len(rows),), rows


def _handler(fold, cols, order=("ts", "event_id"), init=(0,), out_cols=None,
             timeout_minutes=60):
    return R._fold_handler(
        fold,
        cols=cols,
        order=order,
        init=init,
        out_cols=out_cols or ["user_id", *cols],
        timeout_minutes=timeout_minutes,
    )


def _events(ids, values=None):
    """One key's rows with event_id i at hour i."""
    return pd.DataFrame(
        {
            "user_id": np.int64(7),
            "event_id": np.asarray(ids, dtype="int64"),
            "ts": [T0 + pd.Timedelta(hours=int(i)) for i in ids],
            "value": (
                np.asarray(values, dtype="float64")
                if values is not None
                else np.asarray(ids, dtype="float64")
            ),
        }
    )


def test_handler_sorts_all_chunks_of_a_key_once():
    handle = _handler(_recording_fold, ["event_id"])
    state = FakeState()
    # two out-of-order Arrow chunks of the same key, interleaved in time
    chunks = [_events([5, 1, 3]), _events([4, 0, 2])]
    (out,) = list(handle((7,), iter(chunks), state))
    assert out["event_id"].tolist() == [0, 1, 2, 3, 4, 5]
    assert out["user_id"].tolist() == [7] * 6
    assert state.value == (6,)


def test_handler_stable_sort_keeps_arrival_order_of_ties():
    handle = _handler(_recording_fold, ["event_id"], order=("ts",))
    tied = _events([3, 1, 2]).assign(ts=T0)
    (out,) = list(handle((7,), iter([tied]), FakeState()))
    assert out["event_id"].tolist() == [3, 1, 2]


def test_handler_empty_order_leaves_rows_unsorted():
    handle = _handler(_recording_fold, ["event_id"], order=())
    (out,) = list(handle((7,), iter([_events([2, 0, 1])]), FakeState()))
    assert out["event_id"].tolist() == [2, 0, 1]


def test_handler_passes_nulls_as_none_and_plain_tuples():
    seen = []

    def fold(state, rows):
        seen.extend(rows)
        return state, []

    handle = _handler(fold, ["event_id", "ts", "value"])
    pdf = _events([0, 1], values=[np.nan, 2.5])
    pdf.loc[1, "ts"] = pd.NaT
    out = list(handle((7,), iter([pdf]), FakeState()))
    assert seen == [(0, T0, None), (1, None, 2.5)]
    assert all(type(r) is tuple for r in seen)
    assert out[0].empty and list(out[0].columns) == [
        "user_id", "event_id", "ts", "value",
    ]


def test_handler_reads_init_then_state_and_arms_timeout():
    handle = _handler(_recording_fold, ["event_id"], init=(100,))
    state = FakeState()
    list(handle((7,), iter([_events([0, 1])]), state))
    assert state.value == (102,) and state.timeout_ms == 60 * 60 * 1000
    list(handle((7,), iter([_events([2])]), state))
    assert state.value == (103,)


def test_handler_without_timeout_never_arms_one():
    handle = _handler(_recording_fold, ["event_id"], timeout_minutes=None)
    state = FakeState()
    list(handle((7,), iter([_events([0])]), state))
    assert state.timeout_ms is None and state.value == (1,)


def test_handler_timeout_evicts_state_and_emits_nothing():
    calls = []

    def fold(state, rows):
        calls.append(state)
        return state, []

    handle = _handler(fold, ["event_id"])
    state = FakeState(value=(5,), timed_out=True)
    assert list(handle((7,), iter([_events([])]), state)) == []
    assert state.removed and not state.exists
    assert calls == [] and state.timeout_ms is None


RUNNER = inspect.signature(R._keyed_fold)


def _twin_handler(monkeypatch, twin, *args, **kwargs):
    """The per-key handler ``twin`` runs on, built from the arguments it
    passes to ``_keyed_fold`` (captured by a stand-in: no Spark plan is
    made, so only twins whose schemas need no input DataFrame qualify)."""
    captured = {}

    def record(events, fold, **kw):
        bound = RUNNER.bind(events, fold, **kw)
        bound.apply_defaults()
        captured.update(bound.arguments)

    monkeypatch.setattr(inspect.getmodule(twin), "_keyed_fold", record)
    twin(None, *args, **kwargs)
    return R._fold_handler(
        captured["fold"],
        cols=captured["cols"],
        order=captured["order"],
        init=captured["init"],
        out_cols=[f.split()[0] for f in captured["out_schema"].split(", ")],
        timeout_minutes=captured["timeout_minutes"],
    )


def test_streaming_sequences_evicts_idle_keys(monkeypatch):
    handle = _twin_handler(monkeypatch, S.streaming_sequences, seq_len=3)
    state = FakeState()
    (out,) = list(handle((7,), iter([_events([0, 1, 2, 3])]), state))
    assert len(out) == 2 and state.timeout_ms == 60 * 60 * 1000
    assert state.value[0] == [2.0, 3.0]
    # the processing-time timeout fires for the idle key: the state is
    # removed and nothing is emitted (it used to be re-saved and re-armed)
    state.hasTimedOut = True
    state.timeout_ms = None
    assert list(handle((7,), iter([_events([])]), state)) == []
    assert state.removed and state.timeout_ms is None


def _zscore_reference(values, w, threshold):
    """The batch rolling_zscore contract in pandas: [t-w, t-1] row
    frame, NULLs hold their row and are skipped by mean/std."""
    s = pd.Series(values, dtype="float64")
    past = s.shift(1).rolling(w, min_periods=1)
    z = (s - past.mean()) / past.std().replace(0.0, np.nan)
    return z, (z.abs() > threshold).astype(int)


def test_zscore_null_then_spike_is_still_scored_and_flagged(monkeypatch):
    """A NULL value must not disable the twin for a window: Spark hands
    it to pandas as NaN, and a NaN in the deque used to null every
    score for the next ``window_rows`` rows and hide the spike."""
    rng = np.random.default_rng(3)
    values = list(np.round(10.0 + rng.normal(0.0, 1.0, 40), 2))
    values[10] = np.nan
    values[30] = 60.0
    handle = _twin_handler(monkeypatch, R.streaming_zscore_flags, window_rows=24)
    (out,) = list(handle((7,), iter([_events(range(40), values)]), FakeState()))

    z_ref, flag_ref = _zscore_reference(values, 24, 3.0)
    assert out["zscore"].notna().sum() == z_ref.notna().sum() == 37
    np.testing.assert_allclose(
        out["zscore"].astype(float), z_ref, rtol=1e-9, atol=1e-9,
        equal_nan=True,
    )
    assert out["is_anomaly"].tolist() == flag_ref.tolist()
    assert out.loc[30, "is_anomaly"] == 1 and out.loc[30, "zscore"] > 30
    assert pd.isna(out.loc[10, "value"])


def test_ewma_and_hampel_null_keeps_its_slot(monkeypatch):
    pdf = _events(range(6), [1.0, 2.0, np.nan, 4.0, 5.0, 100.0])
    ewma = _twin_handler(monkeypatch, R.streaming_ewma_deviation, window_rows=3)
    (out,) = list(ewma((7,), iter([pdf]), FakeState()))
    # row 5's frame is rows 2..4 = (NULL, 4, 5): lag weights 1 and 0.5
    # on 5 and 4, nothing for the NULL
    assert out.loc[5, "ewma"] == pytest.approx((5.0 + 0.5 * 4.0) / 1.5)
    assert out.loc[5, "ewma_alarm"] == 1
    hampel = _twin_handler(monkeypatch, R.streaming_hampel_flags, window_rows=3)
    (out,) = list(hampel((7,), iter([pdf]), FakeState()))
    assert out.loc[5, "hampel_median"] == 4.5
    assert out.loc[5, "hampel_flag"] == 1


def test_episode_and_throttle_accept_null_flags(monkeypatch):
    pdf = _events(range(4)).assign(is_alert=[1.0, np.nan, 1.0, 0.0])
    episodes = _twin_handler(monkeypatch, R.streaming_episode_assign)
    (out,) = list(episodes((7,), iter([pdf]), FakeState()))
    assert out["episode_id"].iloc[[0, 2]].tolist() == [1, 1]
    assert out["episode_id"].iloc[[1, 3]].isna().all()
    assert pd.isna(out["is_alert"].iloc[1])
    throttle = _twin_handler(
        monkeypatch, R.streaming_throttle_alerts, flag_col="is_alert"
    )
    (out,) = list(throttle((7,), iter([pdf]), FakeState()))
    assert out["is_alert"].tolist() == [1, 0, 1, 0]
    assert out["alert_delivered"].tolist() == [1, 0, 1, 0]


def test_sequences_null_is_a_null_element(monkeypatch):
    pdf = _events(range(3), [1.0, np.nan, 3.0])
    handle = _twin_handler(monkeypatch, S.streaming_sequences, seq_len=3)
    (out,) = list(handle((7,), iter([pdf]), FakeState()))
    assert out["seq"].tolist() == [[1.0, None, 3.0]]
