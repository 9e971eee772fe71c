"""Property tests: the bucketed detector kernel is exactly equivalent to
the scalar reference state machine, key by key, on random event
sequences, random micro-batch splits (carry-state across batches) and
one or several hash buckets, in both time modes. Pure pandas — no
Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from spot_anomalies_flink_workshop_resources_spark.streaming.detector import (
    EMPTY_STATE,
    _fold_bucket,
    _process_batch_scalar,
    make_detector_fn,
)

PARAMS = dict(
    low_threshold=10.0,
    high_threshold=10.0,
    min_run=3,
    max_run=6,
    window_seconds=50.0,
)


def _frame(metrics, t0=0.0, nat_every=0, key="k"):
    n = len(metrics)
    ts = pd.to_datetime((np.arange(n) * 2.0 + t0) * 1e6, unit="us")
    # sizes chosen to be FP-rounding-sensitive: a sum computed in a
    # different association order would differ in the last ulp, so the
    # equality assertion also pins summation order
    sizes = np.array(metrics, dtype=float) * 1.1 + np.arange(n) * 0.0137
    end_ts = pd.Series(ts + pd.Timedelta(milliseconds=10))
    if nat_every:
        # serde's tolerant parsing admits null timestamp_end — the
        # kernel must fall back to ts exactly like the scalar one
        end_ts[::nat_every] = pd.NaT
    return pd.DataFrame(
        {
            "_key": key,
            "_ts": ts,
            "_oid": np.arange(n),
            "_metric": np.array(metrics, dtype=float),
            "_size": sizes,
            "_end_ts": end_ts,
            "_attacker": [f"a{i}" for i in range(n)],
        }
    )


def _fold_one(df, state_tuple, watermark_us=0):
    """One key through the bucket kernel: (alerts, carried state)."""
    carry = {"k": state_tuple} if state_tuple[0] else {}
    out, carry, _ = _fold_bucket(df, carry, **PARAMS, watermark_us=watermark_us)
    return out, carry.get("k", EMPTY_STATE)


def _scalar(df, state_tuple, key="k", **over):
    return _process_batch_scalar(df, state_tuple, key, **{**PARAMS, **over})


@given(
    metrics=st.lists(
        st.sampled_from([1.0, 5.0, 10.0, 15.0, 200.0]), min_size=0, max_size=120
    ),
    split=st.integers(min_value=0, max_value=120),
    nat_every=st.sampled_from([0, 1, 2, 3]),
)
@settings(max_examples=300, deadline=None)
def test_vectorized_equals_scalar(metrics, split, nat_every):
    split = min(split, len(metrics))
    chunks = [metrics[:split], metrics[split:]]
    s_state = v_state = EMPTY_STATE
    s_out_all, v_out_all = [], []
    offset = 0.0
    for chunk in chunks:
        df = _frame(chunk, t0=offset, nat_every=nat_every)
        offset += len(chunk) * 2.0
        s_out, s_state = _scalar(df, s_state)
        v_out, v_state = _fold_one(df, v_state)
        s_out_all += s_out
        v_out_all += v_out
    assert v_out_all == s_out_all
    assert v_state == s_state


def test_vectorized_handles_nan_rows():
    df = _frame([1.0, 1.0, 1.0, 1.0, 200.0])
    df.loc[2, "_metric"] = np.nan
    s_out, s_state = _scalar(df, EMPTY_STATE)
    v_out, v_state = _fold_one(df, EMPTY_STATE)
    assert v_out == s_out and v_state == s_state


def test_vectorized_null_end_ts_falls_back_to_ts():
    """Regression: NaT end_ts once became int64-min/1e6 (-9.22e12) in the
    vectorized path instead of falling back to the event ts."""
    df = _frame([1.0, 1.0, 1.0, 1.0, 200.0], nat_every=1)
    s_out, s_state = _scalar(df, EMPTY_STATE)
    v_out, v_state = _fold_one(df, EMPTY_STATE)
    assert v_out == s_out and v_state == s_state
    assert v_out, "expected an alert"
    assert v_out[0][2] > 0, "attack_end_time must be the event ts, not int64-min"


def test_null_key_folds_apart_from_other_keys():
    """Rows with a null key form their own run, never another key's."""
    df = pd.concat(
        [_frame([1.0] * 4 + [200.0], key=None), _frame([1.0] * 3, key="k")],
        ignore_index=True,
    )
    out, carry, _ = _fold_bucket(df, {}, **PARAMS)
    assert [(a[0], a[4]) for a in out] == [(None, 4)]
    assert carry["k"][0] == 3 and list(carry) == ["k"]


def test_null_key_and_key_spelled_none_stay_apart():
    """A key spelled "None" never joins the null key's open run, in one
    batch or across batches."""
    df = pd.concat(
        [_frame([1.0] * 4, key=None), _frame([1.0] * 3 + [200.0], key="None")],
        ignore_index=True,
    )
    out, carry, _ = _fold_bucket(df, {}, **PARAMS)
    assert [(a[0], a[4]) for a in out] == [("None", 3)]
    assert list(carry) == [None] and carry[None][0] == 4
    out, carry, _ = _fold_bucket(
        _frame([1.0, 200.0], t0=20.0, key="None"), carry, **PARAMS
    )
    assert out == [] and carry[None][0] == 4


def test_rows_below_watermark_are_dropped():
    """Late rows (event time below the watermark) never join a run; a
    row exactly at the watermark is kept (forMonotonousTimestamps)."""
    df = _frame([1.0] * 4 + [200.0])  # ts 0, 2, 4, 6, 8 s
    out, _ = _fold_one(df, EMPTY_STATE, watermark_us=2_000_000)
    assert [a[4] for a in out] == [3] and out[0][1] == 2.0
    out, state = _fold_one(df, EMPTY_STATE, watermark_us=9_000_000)
    assert out == [] and state == EMPTY_STATE


class _FakeState:
    """Minimal GroupState stand-in — make_detector_fn's product is plain
    Python, so the bucket state and processing-time semantics are
    testable without Spark."""

    def __init__(self):
        self._val = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        # copy, as Spark's round trip through the state store does
        self._val = tuple(list(f) for f in v)

    def remove(self):
        self._val = None

    def getCurrentWatermarkMs(self):
        return 0


def _events_frame(events):
    """(key, metric, ts second, null end) tuples -> detector input, in
    arrival order, with ties on ts broken by a scrambled order col."""
    n = len(events)
    ts = pd.to_datetime(
        np.array([e[2] for e in events], dtype=np.int64) * 1_000_000, unit="us"
    )
    end_ts = pd.Series(ts + pd.Timedelta(milliseconds=10))
    end_ts[[bool(e[3]) for e in events]] = pd.NaT
    metric = np.array([e[1] for e in events], dtype=float)
    return pd.DataFrame(
        {
            "_key": [f"k{e[0]}" for e in events],
            "_ts": ts,
            "_oid": (np.arange(n) * 7919) % 1009,
            "_metric": metric,
            "_size": metric * 1.1 + np.arange(n) * 0.0137,
            "_end_ts": end_ts,
            "_attacker": [f"a{i}" for i in range(n)],
        }
    )


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.sampled_from([1.0, 5.0, 10.0, 15.0, 200.0, float("nan")]),
            st.integers(0, 150),
            st.booleans(),
        ),
        max_size=160,
    ),
    cuts=st.lists(st.integers(0, 160), max_size=4),
    n_buckets=st.sampled_from([1, 3]),
    time_mode=st.sampled_from(["event", "processing"]),
    clock_steps=st.lists(
        st.sampled_from([1.0, 30.0, 70.0]), min_size=5, max_size=5
    ),
)
@settings(max_examples=300, deadline=None)
def test_bucketed_detector_equals_scalar_per_key(
    events, cuts, n_buckets, time_mode, clock_steps
):
    """Every key's alerts and carried state from the per-bucket function
    equal the scalar reference's, run key by key over the same
    micro-batches."""
    window = PARAMS["window_seconds"]
    proc = time_mode == "processing"
    now = [1000.0]
    fn = make_detector_fn(**PARAMS, time_mode=time_mode, clock=lambda: now[0])
    frame = _events_frame(events)
    bucket_of = {f"k{k}": (k * 5 + 1) % n_buckets for k in range(6)}
    states = {b: _FakeState() for b in range(n_buckets)}
    got: dict[str, list] = {}
    want: dict[str, list] = {}
    ref: dict[str, tuple] = {}  # key -> (state, first_proc)
    bounds = [0, *sorted(min(c, len(events)) for c in cuts), len(events)]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        now[0] += clock_steps[i]
        batch = frame.iloc[lo:hi]
        buckets = batch["_key"].map(bucket_of)
        for b, part in batch.groupby(buckets):
            for out in fn((b,), iter([part.reset_index(drop=True)]), states[b]):
                for row in out.itertuples(index=False, name=None):
                    got.setdefault(row[0], []).append(row)
        for key, rows in batch.groupby("_key"):
            rows = rows.sort_values(["_ts", "_oid"], kind="mergesort")
            state, first_proc = ref.get(key, (EMPTY_STATE, 0.0))
            if proc and state[0] and now[0] - first_proc > window:
                state = EMPTY_STATE
            out, new = _scalar(
                rows, state, key, window_seconds=float("inf") if proc else window
            )
            want.setdefault(key, []).extend(out)
            continued = state[0] and not (rows["_metric"] > 10.0).any()
            ref[key] = (new, first_proc if continued else now[0])

    assert got == {k: v for k, v in want.items() if v}

    def live(state, first_proc):
        return state[0] and not (proc and now[0] - first_proc > window)

    got_state = {}
    for s in states.values():
        if s.exists:
            keys, *fields = s.get
            procs = fields.pop() if proc else [0.0] * len(keys)
            for k, f, p in zip(keys, zip(*fields), procs):
                if live(f, p):
                    got_state[k] = (f, p if proc else 0.0)
    want_state = {
        k: (s, p if proc else 0.0) for k, (s, p) in ref.items() if live(s, p)
    }
    assert got_state == want_state


def _run_proc_batches(batches, clock_values, window_seconds=50.0):
    clock_iter = iter(clock_values)
    fn = make_detector_fn(
        low_threshold=10.0, high_threshold=10.0, min_run=3, max_run=6,
        window_seconds=window_seconds, time_mode="processing",
        clock=lambda: next(clock_iter),
    )
    state = _FakeState()
    outs = []
    for df in batches:
        outs += list(fn((0,), iter([df]), state))
    non_empty = [o for o in outs if len(o)]
    if non_empty:
        return pd.concat(non_empty, ignore_index=True), state
    return (outs[0].iloc[0:0] if outs else pd.DataFrame()), state


def test_processing_time_within_prunes_stale_partial():
    """A partial match older than the wall-clock window is pruned before
    the next batch applies (AD.java:137 processing-time within)."""
    b1 = _frame([1.0, 1.0], t0=0.0)           # partial run, 2 anomalous
    b2 = _frame([1.0, 200.0], t0=4.0)         # +1 anomalous, then trigger
    # fresh case: second batch 10 s later -> run survives, 3 >= min_run
    out, _ = _run_proc_batches([b1, b2], clock_values=[1000.0, 1010.0])
    assert len(out) == 1 and out.loc[0, "fragment_count"] == 3
    # stale case: second batch 60 s later -> partial pruned, only 1
    # anomalous event remains before the trigger -> no alert
    out, _ = _run_proc_batches([b1, b2], clock_values=[1000.0, 1060.0])
    assert len(out) == 0


def test_processing_time_event_gaps_do_not_expire():
    """Processing time ignores event-time gaps: events 10 days apart in
    event time still match if processed within the wall-clock window
    (the exact semantics the event-time default deviates from)."""
    b1 = _frame([1.0, 1.0], t0=0.0)
    b2 = _frame([1.0, 200.0], t0=86400.0 * 10)
    out, _ = _run_proc_batches([b1, b2], clock_values=[1000.0, 1001.0])
    assert len(out) == 1 and out.loc[0, "fragment_count"] == 3


def test_processing_time_window_restarts_for_new_run():
    """After a trigger resets the run, a NEW run's window starts at its
    own first-seen instant, not the old run's."""
    b1 = _frame([1.0, 1.0, 1.0, 200.0], t0=0.0)      # complete run, alert
    b2 = _frame([1.0, 1.0], t0=10.0)                 # new partial
    b3 = _frame([1.0, 200.0], t0=20.0)               # completes new run
    out, _ = _run_proc_batches(
        [b1, b2, b3], clock_values=[1000.0, 2000.0, 2010.0]
    )
    # both runs alert: first inside batch 1; second spans b2+b3 within
    # 10 s of wall clock even though 1000 s passed since batch 1
    assert list(out["fragment_count"]) == [3, 3]
