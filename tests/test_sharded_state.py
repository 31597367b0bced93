"""The sharded state core (``streaming/sharded.py``) without a Spark session:
its ``applyInPandasWithState`` function runs against a stub ``GroupState``.

Checks the codec and the state/timer/output contract of the wrapper, and
the replay contract every operator step must keep: the same state, batch
and watermark give equal rows and an equal new state, however often they
are replayed. Structured Streaming's exactly-once output after a restart
rests on it.
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
import pytest

from node_cdc_nats_spark.streaming.asof import _nearest_step
from node_cdc_nats_spark.streaming.cdc_diff import _diff_step
from node_cdc_nats_spark.streaming.funnel import _funnel_step
from node_cdc_nats_spark.streaming.rpc import _rpc_step
from node_cdc_nats_spark.streaming.sharded import state_fn

MINUTE_MS = 60_000


class StubState:
    """The part of ``pyspark.sql.streaming.state.GroupState`` the core uses."""

    def __init__(self, blob: bytes | None = None, watermark_ms: int = 0):
        self.blob = blob
        self.watermark_ms = watermark_ms
        self.calls: list[str] = []
        self.timer: int | None = None

    @property
    def exists(self) -> bool:
        return self.blob is not None

    @property
    def get(self) -> tuple:
        return (self.blob,)

    def update(self, row: tuple) -> None:
        self.calls.append("update")
        self.blob = row[0]

    def remove(self) -> None:
        self.calls.append("remove")
        self.blob = None

    def setTimeoutTimestamp(self, ms: int) -> None:
        self.calls.append("timer")
        self.timer = ms

    def getCurrentWatermarkMs(self) -> int:
        return self.watermark_ms


def _run(step, state: StubState, frames) -> list[pd.DataFrame]:
    return list(state_fn(step)((0,), iter(frames), state))


def _fixed(rows, new_state, wake_ms):
    """A step that ignores its input and returns the given triple."""
    return lambda state, batch, wm_us: (rows, new_state, wake_ms)


def test_blob_round_trips_across_two_calls():
    seen = []

    def count_step(state, batch, wm_us):
        seen.append((state, None if batch is None else list(batch["x"]), wm_us))
        total = (state or 0) + (0 if batch is None else len(batch))
        return None, total, None

    st = StubState(watermark_ms=7)
    empty = pd.DataFrame({"x": pd.Series([], dtype="int64")})
    _run(count_step, st, [pd.DataFrame({"x": [1, 2]}), empty])
    _run(count_step, st, [pd.DataFrame({"x": [3]}), empty, pd.DataFrame({"x": [4, 5]})])
    _run(count_step, st, [empty])
    # first call: no state; non-empty frames arrive as one batch; the
    # watermark reaches the step in microseconds; a call without rows
    # passes None
    assert seen == [
        (None, [1, 2], 7000),
        (2, [3, 4, 5], 7000),
        (5, None, 7000),
    ]
    assert st.calls == ["update", "update", "update"]
    assert pickle.loads(st.blob) == 5


def test_none_state_removes_instead_of_updating():
    st = StubState(blob=pickle.dumps([1, 2], protocol=5))
    _run(_fixed(None, None, None), st, [])
    assert st.calls == ["remove"]
    assert not st.exists


def test_timer_is_set_only_when_the_step_returns_one():
    st = StubState()
    _run(_fixed(None, {"k": 1}, None), st, [])
    assert st.calls == ["update"] and st.timer is None
    _run(_fixed(None, {"k": 1}, 123), st, [])
    assert st.calls == ["update", "update", "timer"] and st.timer == 123


def test_only_non_empty_rows_are_yielded():
    rows = pd.DataFrame({"a": [1, 2]})
    assert _run(_fixed(None, 1, None), StubState(), []) == []
    assert _run(_fixed(rows.iloc[:0], 1, None), StubState(), []) == []
    (out,) = _run(_fixed(rows, 1, None), StubState(), [])
    pd.testing.assert_frame_equal(out, rows)


# -- the four operator steps ---------------------------------------------------

T0 = pd.Timestamp("2024-01-01 00:00:00")


def _events(seed: int, n: int = 60) -> pd.DataFrame:
    """n events of 5 users over one hour from T0, with the operators'
    projected columns."""
    rng = np.random.default_rng(seed)
    ts = T0 + pd.to_timedelta(np.sort(rng.integers(0, 3_600_000_000, n)), unit="us")
    types = rng.choice(["click", "purchase", "signup", "view"], n)
    return pd.DataFrame(
        {
            "event_id": np.arange(seed * 1000, seed * 1000 + n, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, 5, n).astype("int64"),
            "event_type": types,
            "value": rng.normal(size=n).round(2),
            "props": rng.choice(["a", "b", None], n),
            "is_req": types == "click",
            "is_click": types == "click",
        }
    )


def _project(batch: pd.DataFrame, step) -> pd.DataFrame:
    """The input projection each operator streams into the core."""
    if step is _rpc_step:
        keep = batch["event_type"].isin(["click", "purchase", "signup"])
        return batch[keep][["event_id", "ts", "user_id", "is_req"]]
    if step is _nearest_step:
        keep = batch["event_type"].isin(["click", "purchase"])
        return batch[keep][["event_id", "ts", "user_id", "is_click"]]
    if step is _funnel_step:
        keep = batch["event_type"].isin(["signup", "click", "purchase"])
        return batch[keep][["event_id", "ts", "user_id", "event_type"]]
    return batch[["event_id", "ts", "user_id", "event_type", "value", "props"]]


def _ms(ts: pd.Timestamp) -> int:
    return int(ts.value // 1_000_000)


@pytest.mark.parametrize("step", [_rpc_step, _nearest_step, _diff_step, _funnel_step])
def test_replayed_step_gives_equal_rows_and_state(step):
    first = _project(_events(1), step).reset_index(drop=True)
    second = _project(_events(2), step).reset_index(drop=True)
    second["ts"] += pd.Timedelta(hours=1)
    st = StubState(watermark_ms=_ms(T0) - 30 * MINUTE_MS)
    _run(step, st, [first])
    committed = st.blob
    assert committed is not None

    # the replayed trigger: the watermark has passed the first hour, so
    # the timer-driven operators decide rows
    wm_ms = _ms(T0 + pd.Timedelta(minutes=50))
    replays = []
    for _ in range(2):
        again = StubState(blob=committed, watermark_ms=wm_ms)
        replays.append((_run(step, again, [second.copy()]), again.blob, again.timer))
    (rows_a, blob_a, timer_a), (rows_b, blob_b, timer_b) = replays
    assert len(rows_a) == len(rows_b) == 1
    pd.testing.assert_frame_equal(rows_a[0], rows_b[0])
    assert blob_a == blob_b
    assert timer_a == timer_b

    # and the step itself, called twice on the same objects, leaves its
    # input state untouched
    old = pickle.loads(committed)
    out_a, new_a, wake_a = step(old, second, wm_ms * 1000)
    out_b, new_b, wake_b = step(old, second, wm_ms * 1000)
    pd.testing.assert_frame_equal(out_a, out_b)
    assert pickle.dumps(new_a, protocol=5) == pickle.dumps(new_b, protocol=5)
    assert wake_a == wake_b
    assert pickle.dumps(old, protocol=5) == committed
