"""Streaming column-level CDC diff — the continuous twin of the batch
``cdc_column_diff`` (operators/cdc.py).

The reference delivers CDC envelopes continuously (``lib/nats.js:86-113``
pushes every message to its subscribers the moment it arrives); a
column-routing / audit consumer therefore wants the "which fields did this
update touch" report as a STREAM, not a batch recompute. Semantics are
identical to the batch op: per user_id, the first version is the insert
('I'); every later version ('U') reports the null-safe set of changed
payload columns (fixed order), the changed count, and the value delta vs
its immediate predecessor.

Event-time correctness: a version's diff is final only once no earlier
version can still arrive, i.e. when the watermark passes its timestamp —
so rows emit at watermark-crossing time, run by the sharded state core
(``streaming/sharded.py``) with event-time timers. Rows the final
watermark never reaches stay pending and emit nothing; the oracle applies
the same cutoff.

State per shard: pending not-yet-decided versions, plus ONE carry row per
user — the last decided version, the predecessor of whatever arrives
next. The pending side is watermark-horizon-bounded like every op here;
the carry is one row per live key, the same per-key floor any streaming
upsert / changelog reader holds (Debezium keeps exactly this to render
`before` images). At 100 TB that is key-cardinality state in RocksDB, not history.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register
from .sharded import DELAY_SQL, apply_sharded
from .source import read_events_stream, run_to_memory, sql_final_watermark

cloudpickle.register_pickle_by_value(sys.modules[__name__])

N_SHARDS = 8
_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("op", StringType()),
        StructField("changed_cols", StringType()),
        StructField("n_changed", IntegerType()),
        StructField("value_delta", DoubleType()),
    ]
)
_COLS = ("uid", "eid", "ts", "typ", "val", "prp")
_DTYPES = ("int64", "int64", "int64", object, "float64", object)
# Fixed column order means only 8 possible changed_cols strings: the 3-bit
# (event_type, value, props) flag code indexes this table.
_CHANGED_COLS = np.array(
    [
        "", "props", "value", "value,props",
        "event_type", "event_type,props",
        "event_type,value", "event_type,value,props",
    ],
    dtype=object,
)


def _frame(arrs=None) -> pd.DataFrame:
    if arrs is None:
        arrs = [np.array([], dtype=d) for d in _DTYPES]
    return pd.DataFrame(dict(zip(_COLS, arrs)))


def _diff_step(state, batch, wm_us):
    """One shard's step (``streaming/sharded.py``). State: the pending
    versions and each user's carry row, the last decided version (the
    predecessor of whatever arrives next), as two tuples of column
    arrays."""
    pend, carry = (_frame(), _frame()) if state is None else map(_frame, state)
    if batch is not None:
        pend = pd.concat(
            [
                pend,
                pd.DataFrame(
                    {
                        "uid": batch["user_id"].astype("int64"),
                        "eid": batch["event_id"].astype("int64"),
                        "ts": batch["ts"].astype("int64") // 1000,  # ns->us
                        "typ": batch["event_type"],
                        "val": batch["value"].astype("float64"),
                        "prp": batch["props"],
                    }
                ),
            ],
            ignore_index=True,
        )

    decide = pend["ts"].to_numpy() <= wm_us

    out = None
    if decide.any():
        dec = pend[decide].sort_values(["uid", "ts", "eid"], kind="mergesort")
        # Prepend each user's carry row so the first decided version
        # diffs against its true predecessor; carry sorts first
        # because anything older than it would have been late data
        # (dropped at the watermark).
        full = pd.concat(
            [carry.assign(_carry=True), dec.assign(_carry=False)],
            ignore_index=True,
        ).sort_values(["uid", "ts", "eid", "_carry"], kind="mergesort")
        # _carry=False sorts before True only on exact (ts, eid) ties,
        # which cannot happen (event_id is unique); order is total.
        g = full.groupby("uid", sort=False)
        prev_eid = g["eid"].shift(1)
        prev_typ = g["typ"].shift(1)
        prev_val = g["val"].shift(1)
        prev_prp = g["prp"].shift(1)

        def neq(a, b):  # null-safe IS DISTINCT FROM
            return (a != b) & ~(a.isna() & b.isna())

        ct = neq(full["typ"], prev_typ)
        cv = neq(full["val"], prev_val)
        cp = neq(full["prp"], prev_prp)
        is_ins = prev_eid.isna()
        code = (
            ct.to_numpy(dtype="int64") * 4
            + cv.to_numpy(dtype="int64") * 2
            + cp.to_numpy(dtype="int64")
        )
        rows = pd.DataFrame(
            {
                "event_id": full["eid"],
                "user_id": full["uid"],
                "op": np.where(is_ins, "I", "U"),
                "changed_cols": np.where(is_ins, None, _CHANGED_COLS[code]),
                "n_changed": np.where(
                    is_ins,
                    0,
                    ct.astype(int) + cv.astype(int) + cp.astype(int),
                ),
                "value_delta": np.where(is_ins, np.nan, full["val"] - prev_val),
                "_carry": full["_carry"],
            }
        )
        out = (
            rows[~rows["_carry"]]
            .drop(columns="_carry")
            .astype({"event_id": "int64", "user_id": "int64", "n_changed": "int32"})
        )
        # New carry: the LAST decided version per user replaces (or
        # creates) that user's carry; untouched users keep theirs.
        last = dec.groupby("uid", sort=False).tail(1)
        carry = (
            pd.concat([carry, last], ignore_index=True)
            .sort_values(["uid", "ts", "eid"], kind="mergesort")
            .groupby("uid", sort=False)
            .tail(1)
        )
        pend = pend[~decide]

    if not (len(pend) or len(carry)):
        return out, None, None
    new_state = tuple(tuple(df_[c].to_numpy() for c in _COLS) for df_ in (pend, carry))
    # Wake this shard when the watermark reaches the oldest pending
    # version (must exceed the current watermark).
    wake_ms = max(int(pend["ts"].min()) // 1000, wm_us // 1000) + 1 if len(pend) else None
    return out, new_state, wake_ms


@register(
    "stream_cdc_column_diff",
    oracle=f"""
    WITH v AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             event_type, value, props,
             LAG(event_id) OVER w AS p_id,
             LAG(event_type) OVER w AS p_type,
             LAG(value) OVER w AS p_value,
             LAG(props) OVER w AS p_props
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id, user_id,
           CASE WHEN p_id IS NULL THEN 'I' ELSE 'U' END AS op,
           CASE WHEN p_id IS NULL THEN NULL ELSE CONCAT_WS(',',
             CASE WHEN p_type IS DISTINCT FROM event_type
                  THEN 'event_type' END,
             CASE WHEN p_value IS DISTINCT FROM value THEN 'value' END,
             CASE WHEN p_props IS DISTINCT FROM props THEN 'props' END)
           END AS changed_cols,
           CAST(CASE WHEN p_id IS NULL THEN 0 ELSE
             (CASE WHEN p_type IS DISTINCT FROM event_type
                   THEN 1 ELSE 0 END)
             + (CASE WHEN p_value IS DISTINCT FROM value THEN 1 ELSE 0 END)
             + (CASE WHEN p_props IS DISTINCT FROM props THEN 1 ELSE 0 END)
           END AS INT) AS n_changed,
           CASE WHEN p_id IS NULL THEN NULL
                ELSE value - p_value END AS value_delta
    FROM v
    WHERE ts <= {sql_final_watermark(DELAY_SQL)}
    """,
)
def stream_cdc_column_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cdc_column_diff``: per-user column-level change
    reports emitted exactly once, when the watermark passes each version's
    timestamp (its predecessor set is then final). The LAG the batch op
    computes inside one window shuffle becomes one carry row per user in
    the state store; the oracle is the batch oracle restricted to the
    versions the final watermark reached.

    Plan: one shard shuffle into the sharded state core; everything
    per batch is a vectorized pandas pass over that shard's slice. State =
    watermark-horizon pending + one row per live key (see module
    docstring)."""
    # All 4 staged files in one data trigger (then the no-data flush
    # trigger decides everything the final watermark reached): decisions
    # key on ts-vs-watermark only and the staging is time-ordered, so the
    # emitted set is phasing-independent — pinned 1-vs-4 by
    # tests/test_trigger_phasing.py. The ~100k pending rows then
    # round-trip the state store once, which the blob codec makes cheap.
    # The Spark 4 state-v2 API (transformWithStateInPandas) is not an
    # option: its driver worker imports google.protobuf, which is not a
    # dependency of this project (TESTDATA.md).
    src = read_events_stream(spark, sf_dir, files_per_trigger=4)
    flow = src.select("event_id", "ts", "user_id", "event_type", "value", "props")
    diffs = apply_sharded(flow, _diff_step, _OUT_SCHEMA, N_SHARDS)
    return run_to_memory(diffs, "append")
