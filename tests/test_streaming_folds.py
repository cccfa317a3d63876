"""Streaming twins without Spark: the keyed-state runner and every fold.

The stateful twins in ``streaming.rolling`` / ``streaming.sequences``
are a pure fold ``(state, rows) -> (state, out_rows)`` run by one
runner (``_keyed_fold``). Three things are pinned here, in pure
Python:

- the split-fold property: folding an in-order series in any
  micro-batch split gives exactly the output and final state of one
  pass, both with the state handed back exactly as the fold returned
  it (what the runner's pickled book does) and round-tripped as a
  typed state store would (tuples of plain values and lists);
- the runner's per-bucket handler, driven with a fake ``GroupState``:
  one stable sort over all Arrow chunks of a bucket, interleaved keys
  each folded on their own, NULL keys and values reaching the fold as
  ``None``, idle-key expiry against the batch clock, the bucket-count
  guard, and the book/output protocol;
- batch == stream for the five recursions written once as a kernel in
  the batch operator's module (Kalman, theta, Croston, ADWIN,
  fixed-cooldown throttle): the fold over any split of a seeded series
  equals the batch face exactly.

The Spark replay-parity family (stream == batch operator) lives in
``tests/slow/test_streaming.py``.
"""

from __future__ import annotations

import inspect
import pickle
import re
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
    """What a typed state store hands back: a fresh tuple, arrays as lists."""
    return tuple(list(x) if isinstance(x, (list, tuple)) else x for x in state)


def _fold_batches(fold, init, batches, handback=_store_roundtrip):
    state, out = init, []
    for batch in batches:
        state, rows = fold(handback(state), iter(batch))
        out.extend(rows)
    return handback(state), out


def _same(state):
    return state


def _check_split_equals_one_pass(fold, init, to_row, compare, records, cuts, handback):
    rows = [
        to_row(i, T0 + pd.Timedelta(hours=i), v, e, f)
        for i, (v, e, f) in enumerate(records)
    ]
    bounds = sorted({0, len(rows), *(c for c in cuts if c < len(rows))})
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:])]

    one_state, one_out = _fold_batches(fold, init, [rows], handback)
    split_state, split_out = _fold_batches(fold, init, batches, handback)

    assert split_state == one_state
    if compare == "last":
        assert split_out[-1] == one_out[-1]
    else:
        assert split_out == one_out


FOLD_PARAMS = pytest.mark.parametrize(
    "fold,init,to_row,compare",
    [f[1:] for f in FOLDS],
    ids=[f[0] for f in FOLDS],
)


@FOLD_PARAMS
@settings(max_examples=60, deadline=None)
@given(records=RECORDS, cuts=st.lists(st.integers(0, 40), max_size=6))
def test_split_fold_equals_one_pass(fold, init, to_row, compare, records, cuts):
    _check_split_equals_one_pass(
        fold, init, to_row, compare, records, cuts, _store_roundtrip
    )


@FOLD_PARAMS
@settings(max_examples=60, deadline=None)
@given(records=RECORDS, cuts=st.lists(st.integers(0, 40), max_size=6))
def test_split_fold_equals_one_pass_without_store_roundtrip(
    fold, init, to_row, compare, records, cuts
):
    """The runner's book hands a fold back the very state it returned
    (a pickle round trip keeps tuples, arrays and timestamps as they
    were), and every key of a bucket starts from the same ``init``
    object: a fold must neither need the store's list coercion nor
    mutate the state it is handed."""
    _check_split_equals_one_pass(fold, init, to_row, compare, records, cuts, _same)


# --- the runner's per-bucket handler, with a fake GroupState --------------

BUCKETS = 8
MINUTE_MS = 60_000


class FakeState:
    """The slice of ``pyspark.sql.streaming.state.GroupState`` the
    runner uses: the bucket's state row and the batch clock."""

    def __init__(self, value=None, now_ms=0):
        self.value = value
        self.now_ms = now_ms

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(value)

    def getCurrentProcessingTimeMs(self):
        return self.now_ms


def _book(state):
    """The bucket's book: key tuple -> (fold state, time of its last rows)."""
    buckets, blob = state.value
    assert buckets == BUCKETS
    return pickle.loads(blob)


def _stored(book, buckets=BUCKETS):
    return (buckets, pickle.dumps(book, protocol=R.BOOK_PROTOCOL))


def _recording_fold(state, rows):
    rows = list(rows)
    return (state[0] + len(rows),), rows


def _handler(fold, cols, order=("ts", "event_id"), init=(0,), out_cols=None,
             timeout_minutes=60, keys=("user_id",)):
    return R._fold_handler(
        fold,
        keys=keys,
        cols=cols,
        order=order,
        init=init,
        out_cols=out_cols or [*keys, *cols],
        timeout_minutes=timeout_minutes,
        buckets=BUCKETS,
    )


def _events(ids, values=None, user=7):
    """One key's rows with event_id i at hour i."""
    return pd.DataFrame(
        {
            "user_id": np.int64(user),
            "event_id": np.asarray(ids, dtype="int64"),
            "ts": [T0 + pd.Timedelta(hours=int(i)) for i in ids],
            "value": (
                np.asarray(values, dtype="float64")
                if values is not None
                else np.asarray(ids, dtype="float64")
            ),
        }
    )


def _run(handle, chunks, state):
    """One micro-batch of one bucket: the handler's one output frame."""
    (out,) = list(handle((3,), iter(chunks), state))
    return out


def test_handler_sorts_all_chunks_of_a_key_once():
    handle = _handler(_recording_fold, ["event_id"])
    state = FakeState()
    # two out-of-order Arrow chunks of the same key, interleaved in time
    chunks = [_events([5, 1, 3]), _events([4, 0, 2])]
    out = _run(handle, chunks, state)
    assert out["event_id"].tolist() == [0, 1, 2, 3, 4, 5]
    assert out["user_id"].tolist() == [7] * 6
    assert _book(state) == {(7,): ((6,), 0)}


def test_handler_stable_sort_keeps_arrival_order_of_ties():
    handle = _handler(_recording_fold, ["event_id"], order=("ts",))
    tied = _events([3, 1, 2]).assign(ts=T0)
    out = _run(handle, [tied], FakeState())
    assert out["event_id"].tolist() == [3, 1, 2]


def test_handler_empty_order_leaves_rows_unsorted():
    handle = _handler(_recording_fold, ["event_id"], order=())
    out = _run(handle, [_events([2, 0, 1])], FakeState())
    assert out["event_id"].tolist() == [2, 0, 1]


def test_handler_passes_nulls_as_none_and_plain_tuples():
    seen = []

    def fold(state, rows):
        seen.extend(rows)
        return state, []

    handle = _handler(fold, ["event_id", "ts", "value"])
    pdf = _events([0, 1], values=[np.nan, 2.5])
    pdf.loc[1, "ts"] = pd.NaT
    out = list(handle((3,), iter([pdf]), FakeState()))
    assert seen == [(0, T0, None), (1, None, 2.5)]
    assert all(type(r) is tuple for r in seen)
    assert out[0].empty and list(out[0].columns) == [
        "user_id", "event_id", "ts", "value",
    ]


def test_handler_reads_init_then_its_book_entry():
    handle = _handler(_recording_fold, ["event_id"], init=(100,))
    state = FakeState(now_ms=5)
    _run(handle, [_events([0, 1])], state)
    assert _book(state) == {(7,): ((102,), 5)}
    state.now_ms = 9
    _run(handle, [_events([2])], state)
    assert _book(state) == {(7,): ((103,), 9)}


def test_handler_without_timeout_never_expires():
    handle = _handler(_recording_fold, ["event_id"], timeout_minutes=None)
    state = FakeState()
    _run(handle, [_events([0])], state)
    state.now_ms = 10 * 365 * 24 * 60 * MINUTE_MS
    _run(handle, [_events([1], user=8)], state)
    assert _book(state) == {(7,): ((1,), 0), (8,): ((1,), state.now_ms)}
    _run(handle, [_events([2])], state)
    assert _book(state)[(7,)] == ((2,), state.now_ms)


def test_handler_timeout_evicts_state_and_emits_nothing():
    calls = []

    def fold(state, rows):
        rows = list(rows)
        calls.append((state, rows))
        return state, rows

    handle = _handler(fold, ["event_id"])
    # key 7 last had rows 61 minutes ago; only key 8 has rows now
    state = FakeState(value=_stored({(7,): ((5,), 0)}), now_ms=61 * MINUTE_MS)
    out = _run(handle, [_events([0], user=8)], state)
    assert out["user_id"].tolist() == [8]
    assert _book(state) == {(8,): ((0,), 61 * MINUTE_MS)}
    assert calls == [((0,), [(0,)])]


def test_handler_key_past_timeout_restarts_from_init():
    handle = _handler(_recording_fold, ["event_id"], init=(100,))
    state = FakeState(
        value=_stored({(7,): ((5,), 0), (8,): ((6,), 0)}), now_ms=60 * MINUTE_MS
    )
    # idle exactly timeout_minutes: not expired yet
    _run(handle, [_events([0])], state)
    assert _book(state) == {(7,): ((6,), 60 * MINUTE_MS), (8,): ((6,), 0)}
    # one millisecond later key 8 is past it: it folds from init
    state.now_ms += 1
    out = _run(handle, [_events([1], user=8)], state)
    assert out["event_id"].tolist() == [1]
    assert _book(state) == {
        (7,): ((6,), 60 * MINUTE_MS), (8,): ((101,), 60 * MINUTE_MS + 1),
    }


def test_handler_folds_interleaved_keys_each_on_their_own():
    """Keys sharing a bucket, their rows shuffled together over two Arrow
    chunks: each key's output rows and book entry equal its own fold."""
    fold = partial(R._zscore_fold, window_rows=5, threshold=1.5)
    rng = np.random.default_rng(0)
    users = [3, 11, 2**60 + 1, 7]
    frames = [
        _events(range(12), np.round(rng.normal(10.0, 3.0, 12), 2), user=u)
        for u in users
    ]
    shuffled = pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=1)
    cols = ["event_id", "ts", "value"]
    out_cols = ["user_id", *cols, "zscore", "is_anomaly"]
    handle = _handler(fold, cols, init=([],), out_cols=out_cols)
    state = FakeState(now_ms=42)
    out = _run(handle, [shuffled.iloc[:20], shuffled.iloc[20:]], state)

    assert out["user_id"].dtype == np.int64
    book = _book(state)
    for u, f in zip(users, frames):
        want_state, want = fold(
            ([],), f[cols].astype(object).itertuples(index=False, name=None)
        )
        assert book[(u,)] == (want_state, 42)
        pd.testing.assert_frame_equal(
            out[out["user_id"] == u].reset_index(drop=True),
            pd.DataFrame([(u, *r) for r in want], columns=out_cols),
        )
    assert len(out) == 48 and out["is_anomaly"].sum() > 0


def test_handler_folds_null_keys_as_none():
    """Rows with a NULL in any key column share bucket -1, where an
    integer key column may arrive as float64 with NaN: a NULL key is
    ``None`` in the book and NULL in the output."""
    handle = _handler(_recording_fold, ["event_id"], keys=("user_id", "region"))
    pdf = _events([0, 1, 2, 3]).assign(
        user_id=[np.nan, np.nan, 5.0, np.nan], region=["a", None, None, "a"]
    )
    state = FakeState()
    out = _run(handle, [pdf], state)
    assert out["event_id"].tolist() == [2, 0, 3, 1]
    assert out["user_id"].isna().tolist() == [False, True, True, True]
    assert out["region"].tolist() == [None, "a", "a", None]
    assert _book(state) == {
        (5.0, None): ((1,), 0), (None, "a"): ((2,), 0), (None, None): ((1,), 0),
    }
    _run(handle, [_events([4]).assign(user_id=np.nan, region="a")], state)
    assert _book(state)[(None, "a")] == ((3,), 0)


def test_handler_refuses_a_book_of_another_bucket_count():
    """A query resumed with another ``spark.sql.shuffle.partitions``
    would hash its keys to other buckets and silently restart them."""
    handle = _handler(_recording_fold, ["event_id"])
    state = FakeState(value=_stored({(7,): ((5,), 0)}, buckets=2))
    with pytest.raises(ValueError, match="holds 2 key buckets but this query runs 8"):
        _run(handle, [_events([0])], state)


RUNNER = inspect.signature(R._keyed_fold)
#: a DDL field's name: a backtick-quoted identifier or a bare word
DDL_NAME = re.compile(r"(?:^|, )(?:`((?:[^`]|``)+)`|([^\s`]+)) ")


def _ddl_names(schema):
    """The field names of the DDL string ``schema``, unquoted."""
    return [q.replace("``", "`") if q else bare for q, bare in DDL_NAME.findall(schema)]


def _twin_handler(monkeypatch, twin, *args, **kwargs):
    """The per-bucket handler ``twin`` runs on, built from the arguments
    it passes to ``_keyed_fold`` (captured by a stand-in: no Spark plan
    is made, so only twins whose schemas need no input DataFrame
    qualify)."""
    captured = {}

    def record(events, fold, **kw):
        bound = RUNNER.bind(events, fold, **kw)
        bound.apply_defaults()
        captured.update(bound.arguments)

    monkeypatch.setattr(inspect.getmodule(twin), "_keyed_fold", record)
    twin(None, *args, **kwargs)
    return R._fold_handler(
        captured["fold"],
        keys=captured["keys"],
        cols=captured["cols"],
        order=captured["order"],
        init=captured["init"],
        out_cols=_ddl_names(captured["out_schema"]),
        timeout_minutes=captured["timeout_minutes"],
        buckets=BUCKETS,
    )


def test_streaming_sequences_evicts_idle_keys(monkeypatch):
    handle = _twin_handler(monkeypatch, S.streaming_sequences, seq_len=3)
    state = FakeState()
    out = _run(handle, [_events([0, 1, 2, 3])], state)
    assert len(out) == 2
    assert _book(state)[(7,)][0][0] == [2.0, 3.0]
    # past the 60-minute default the idle key leaves the book the next
    # time its bucket runs (it used to be re-saved forever)
    state.now_ms = 61 * MINUTE_MS
    assert _run(handle, [_events([4], user=8)], state).empty
    assert list(_book(state)) == [(8,)]


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
    out = _run(handle, [_events(range(40), values)], FakeState())

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
    out = _run(ewma, [pdf], FakeState())
    # row 5's frame is rows 2..4 = (NULL, 4, 5): lag weights 1 and 0.5
    # on 5 and 4, nothing for the NULL
    assert out.loc[5, "ewma"] == pytest.approx((5.0 + 0.5 * 4.0) / 1.5)
    assert out.loc[5, "ewma_alarm"] == 1
    hampel = _twin_handler(monkeypatch, R.streaming_hampel_flags, window_rows=3)
    out = _run(hampel, [pdf], FakeState())
    assert out.loc[5, "hampel_median"] == 4.5
    assert out.loc[5, "hampel_flag"] == 1


def test_episode_and_throttle_accept_null_flags(monkeypatch):
    pdf = _events(range(4)).assign(is_alert=[1.0, np.nan, 1.0, 0.0])
    episodes = _twin_handler(monkeypatch, R.streaming_episode_assign)
    out = _run(episodes, [pdf], FakeState())
    assert out["episode_id"].iloc[[0, 2]].tolist() == [1, 1]
    assert out["episode_id"].iloc[[1, 3]].isna().all()
    assert pd.isna(out["is_alert"].iloc[1])
    throttle = _twin_handler(
        monkeypatch, R.streaming_throttle_alerts, flag_col="is_alert"
    )
    out = _run(throttle, [pdf], FakeState())
    assert out["is_alert"].tolist() == [1, 0, 1, 0]
    assert out["alert_delivered"].tolist() == [1, 0, 1, 0]


def test_flag_and_quantile_names_are_quoted(monkeypatch):
    pdf = _events(range(3)).assign(**{"my `flag`": [1, 1, 0]})
    throttle = _twin_handler(
        monkeypatch, R.streaming_throttle_alerts, flag_col="my `flag`"
    )
    out = _run(throttle, [pdf], FakeState())
    assert list(out.columns) == ["user_id", "event_id", "ts", "my `flag`", "alert_delivered"]
    assert out["alert_delivered"].tolist() == [1, 0, 0]
    quantiles = _twin_handler(monkeypatch, R.streaming_quantiles, quantiles=(0.5,))
    out = _run(quantiles, [_events(range(3))], FakeState())
    assert list(out.columns)[-1] == "q0_5"


def test_sequences_null_is_a_null_element(monkeypatch):
    pdf = _events(range(3), [1.0, np.nan, 3.0])
    handle = _twin_handler(monkeypatch, S.streaming_sequences, seq_len=3)
    out = _run(handle, [pdf], FakeState())
    assert out["seq"].tolist() == [[1.0, None, 3.0]]


# --- batch face == stream fold, for the kernels shared with the batch side


SEEDS = st.integers(0, 2**16)
SPLITS = st.lists(st.integers(0, 200), max_size=6)


def _seeded_series(seed, n=200):
    """Level shifts, noise and spikes on the 0.01 grid."""
    rng = np.random.default_rng(seed)
    level = np.repeat(rng.permutation([-20.0, -5.0, 10.0, 25.0]), n // 4)
    y = level + rng.normal(0.0, 2.0, n)
    y[rng.random(n) < 0.03] += 40.0
    return np.round(y, 2)


def _split_fold(fold, init, rows, cuts):
    bounds = sorted({0, len(rows), *(c for c in cuts if c < len(rows))})
    return _fold_batches(fold, init, [rows[a:b] for a, b in zip(bounds, bounds[1:])])


def _column(out, i, dtype="float64"):
    return np.array([r[i] for r in out], dtype=dtype)


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, cuts=SPLITS)
def test_kalman_fold_equals_kalman_numpy(seed, cuts):
    from amonaly_detection_in_time_series_data_spark.operators.kalman import (
        kalman_numpy,
    )

    y = _seeded_series(seed)
    rows = [(i, T0 + pd.Timedelta(hours=i), v) for i, v in enumerate(y.tolist())]
    fold = partial(R._kalman_fold, Q=0.5, R=2.0, thr=3.0)
    _, out = _split_fold(fold, (None, None), rows, cuts)
    want = kalman_numpy(y, q_var=0.5, r_var=2.0)
    np.testing.assert_array_equal(_column(out, 3), want["pred"])
    np.testing.assert_array_equal(_column(out, 4), want["level"])
    np.testing.assert_array_equal(_column(out, 5), np.sqrt(want["innov_var"]))
    np.testing.assert_array_equal(_column(out, 6), want["score"])
    assert [r[7] for r in out] == [None] + list(np.abs(want["score"][1:]) > 3.0)


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, cuts=SPLITS)
def test_theta_fold_equals_theta_numpy(seed, cuts):
    from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
        THETA_INIT,
        theta_numpy,
    )

    y = _seeded_series(seed)
    rows = [(T0 + pd.Timedelta(hours=i), v) for i, v in enumerate(y.tolist())]
    _, out = _split_fold(partial(R._theta_fold, a=0.2, mp=3), THETA_INIT, rows, cuts)
    for i, want in enumerate(theta_numpy(y, 0.2, 3), start=2):
        np.testing.assert_array_equal(_column(out, i), want)


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, cuts=SPLITS)
def test_croston_fold_equals_croston_numpy(seed, cuts):
    from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
        CROSTON_INIT,
        croston_numpy,
    )

    rng = np.random.default_rng(seed)
    y = np.where(rng.random(200) < 0.7, 0.0, rng.integers(1, 20, 200).astype(float))
    rows = [(T0 + pd.Timedelta(hours=i), v) for i, v in enumerate(y.tolist())]
    fold = partial(R._croston_fold, a=0.1, factor=0.95)
    _, out = _split_fold(fold, CROSTON_INIT, rows, cuts)
    for i, want in enumerate(croston_numpy(y, 0.1, 0.95), start=2):
        np.testing.assert_array_equal(_column(out, i), want)


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, cuts=SPLITS)
def test_adwin_fold_equals_adwin_numpy(seed, cuts):
    from amonaly_detection_in_time_series_data_spark.operators.adwin import (
        ADWIN_INIT,
        adwin_numpy,
    )

    y = _seeded_series(seed)
    rows = [(i, T0 + pd.Timedelta(hours=i), v) for i, v in enumerate(y.tolist())]
    fold = partial(R._adwin_fold, delta=0.002, max_buckets=5)
    _, out = _split_fold(fold, ADWIN_INIT, rows, cuts)
    n, mean, change = adwin_numpy(y, 0.002, 5)
    assert change.any()  # the level shifts are detected
    np.testing.assert_array_equal(_column(out, 3, "int64"), n)
    np.testing.assert_array_equal(_column(out, 4), mean)
    np.testing.assert_array_equal(_column(out, 5, bool), change)


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, cuts=SPLITS)
def test_fixed_cooldown_fold_equals_batch_pick(seed, cuts):
    from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
        _fixed_cooldown_pick,
    )

    rng = np.random.default_rng(seed)
    ts = T0 + pd.to_timedelta(np.cumsum(rng.integers(1, 3600, 200)), unit="s")
    flags = rng.choice([0, 1, 1, None], 200).tolist()
    rows = list(zip(range(200), ts, flags))
    fold = partial(R._throttle_fold, cooldown_seconds=7200.0, policy="fixed-cooldown")
    _, out = _split_fold(fold, (None, None), rows, cuts)

    alerts = pd.DataFrame(
        [(7, t, i, 7200.0) for i, t, f in rows if f == 1],
        columns=["user_id", "ts", "event_id", "__cd"],
    )
    got = _fixed_cooldown_pick(
        alerts.sample(frac=1.0, random_state=seed), keys=["user_id"],
        ts_col="ts", tie=["event_id"],
    )
    assert [r[1] for r in out if r[3]] == list(got["__dts"])
    assert got["user_id"].tolist() == [7] * len(got)


@pytest.mark.parametrize(
    "fold,init",
    [
        (partial(R._kalman_fold, Q=0.5, R=2.0, thr=3.0), (None, None)),
        (partial(R._adwin_fold, delta=0.002, max_buckets=5), ([], [], [])),
    ],
    ids=["kalman", "adwin"],
)
def test_kalman_and_adwin_folds_reject_null(fold, init):
    rows = [(0, T0, 1.0), (1, T0 + pd.Timedelta(hours=1), None)]
    with pytest.raises(ValueError, match="null values in series"):
        fold(init, iter(rows))


def test_batch_faces_share_the_null_check():
    from amonaly_detection_in_time_series_data_spark.operators.adwin import (
        adwin_numpy,
    )
    from amonaly_detection_in_time_series_data_spark.operators.kalman import (
        kalman_numpy,
    )

    y = [1.0, 2.0, np.nan, 3.0]
    with pytest.raises(ValueError, match="kalman_level: null values in series"):
        kalman_numpy(y, q_var=0.5, r_var=2.0)
    with pytest.raises(ValueError, match="adwin_changes: null values in series"):
        adwin_numpy(y, 0.002, 5)


def test_replay_dir_is_the_same_in_every_interpreter():
    """Two interpreters with different string-hash salts name the same
    replay directory, so a query resumed from its checkpoint in a new
    process watches the files it has already read."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from amonaly_detection_in_time_series_data_spark.streaming.rolling "
        "import _replay_dir\n"
        "print(_replay_dir('/data/sf0.01', 'events'), hash('/data/sf0.01'))"
    )

    def run(seed):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=repo, env=env,
            capture_output=True, text=True, check=True,
        )
        return out.stdout.split()

    (dir_a, hash_a), (dir_b, hash_b) = run("1"), run("2")
    assert hash_a != hash_b  # the salts differ, so str hashes do too
    assert dir_a == dir_b
    assert os.path.basename(dir_a).startswith("events_stream_")
