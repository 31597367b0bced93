"""Streaming nearest-direction as-of join — the continuous twin of the
batch ``join_asof_nearest`` (operators/asof.py).

The batch op answers "the purchase by the same user closest in time in
EITHER direction" with unbounded lookahead — a luxury only a bounded
corpus affords. On a stream, forward candidates keep arriving, so the
streaming-native contract bounds the search to a tolerance window: for
each click, the nearest purchase within ±TOLERANCE, decided exactly once
when the watermark passes ``click_ts + TOLERANCE`` (every purchase that
could still win has then provably arrived — the same
decide-at-watermark-crossing argument ``stream_rpc_state`` makes for
first-wins). Ties keep the batch op's rule: backward (earlier) wins equal
gaps, a coincident purchase is backward at distance zero.

State per shard: pending undecided clicks plus purchases young enough to
matter — a purchase older than ``watermark - 2·TOLERANCE`` can serve no
undecided or future click, so it is pruned every invocation. State is
traffic-per-horizon, never stream length; at 100 TB that is the same
bounded-state story as the RPC correlator.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..registry import register
from .sharded import DELAY_SQL, apply_sharded
from .source import read_events_stream, run_to_memory, sql_final_watermark

cloudpickle.register_pickle_by_value(sys.modules[__name__])

TOLERANCE_MIN = 10
TOL_US = TOLERANCE_MIN * 60 * 1_000_000
N_SHARDS = 4
_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("nearest_purchase_id", LongType()),
        StructField("nearest_ts_us", LongType()),
        StructField("direction", StringType()),
    ]
)


def _nearest_step(state, batch, wm_us):
    """One shard's step (``streaming/sharded.py``). State: six int64
    vectors, the pending clicks' (user, id, ts) and the purchase
    horizon's (user, id, ts)."""
    c_users, c_ids, c_ts, p_users, p_ids, p_ts = (
        state or [np.empty(0, dtype=np.int64)] * 6
    )
    if batch is not None:
        ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()  # ns->us
        is_click = batch["is_click"].to_numpy()
        uid = batch["user_id"].to_numpy()
        eid = batch["event_id"].to_numpy()
        c_users = np.concatenate([c_users, uid[is_click]])
        c_ids = np.concatenate([c_ids, eid[is_click]])
        c_ts = np.concatenate([c_ts, ts_us[is_click]])
        p_users = np.concatenate([p_users, uid[~is_click]])
        p_ids = np.concatenate([p_ids, eid[~is_click]])
        p_ts = np.concatenate([p_ts, ts_us[~is_click]])

    decide = c_ts + TOL_US <= wm_us  # all candidates have arrived

    out = None
    if decide.any():
        # reset_index after the sort is LOAD-BEARING: the output frame
        # below mixes q's columns with merge_asof results (which carry
        # a fresh RangeIndex), and pandas aligns Series BY INDEX in the
        # DataFrame constructor — a permuted q index (clicks arriving
        # out of ts order within a batch) would scramble the pairing.
        # The sf0.1 sweep shows it; at sf0.01 single-file micro-batches
        # happen to arrive time-sorted.
        q = (
            pd.DataFrame(
                {
                    "user": c_users[decide],
                    "ts": c_ts[decide],
                    "event_id": c_ids[decide],
                }
            )
            .sort_values("ts", kind="mergesort")
            .reset_index(drop=True)
        )
        # Coincident purchases pre-reduce to max purchase id — the
        # batch op's exact tie rule.
        r = (
            pd.DataFrame({"user": p_users, "ts": p_ts, "p_id": p_ids})
            .sort_values(["ts", "p_id"], ascending=[True, False], kind="mergesort")
            .drop_duplicates(["user", "ts"], keep="first")
            .sort_values("ts", kind="mergesort")
        )
        # Carry ids/timestamps as nullable Int64 through merge_asof:
        # the plain-int64 path promotes to float64 (NaN for no-match),
        # which silently rounds ids above 2^53 — fine for the fixture,
        # a trap for real id spaces.
        r = r.astype({"p_id": "Int64"})
        back = pd.merge_asof(
            q, r, on="ts", by="user",
            direction="backward", tolerance=TOL_US,
        )["p_id"]
        b_ts = pd.merge_asof(
            q, r.rename(columns={"p_id": "pp"}).assign(pts=r["ts"].astype("Int64")),
            on="ts", by="user", direction="backward", tolerance=TOL_US,
        )["pts"]
        fwd_m = pd.merge_asof(
            q, r.assign(pts=r["ts"].astype("Int64")), on="ts", by="user",
            direction="forward", tolerance=TOL_US,
            allow_exact_matches=False,  # coincident counts backward
        )
        fwd, f_ts = fwd_m["p_id"], fwd_m["pts"]
        # Gap math in float64 is exact here (µs differences < 2^53);
        # only the SELECTED ids must stay integral.
        gap_b = q["ts"].to_numpy() - b_ts.to_numpy(dtype="float64", na_value=np.nan)
        gap_f = f_ts.to_numpy(dtype="float64", na_value=np.nan) - q["ts"].to_numpy()
        has_b, has_f = back.notna().to_numpy(), fwd.notna().to_numpy()
        take_b = has_b & (~has_f | (gap_b <= gap_f))
        take_f = ~take_b & has_f
        na = pd.array([pd.NA] * len(q), dtype="Int64")
        out = pd.DataFrame(
            {
                "event_id": q["event_id"].astype("int64"),
                "user_id": q["user"].astype("int64"),
                "ts_us": q["ts"].astype("int64"),
                "nearest_purchase_id": back.where(take_b, fwd.where(take_f, na)),
                "nearest_ts_us": b_ts.where(take_b, f_ts.where(take_f, na)),
                "direction": np.where(
                    take_b, "backward", np.where(take_f, "forward", None)
                ),
            }
        )

    # Prune: undecided clicks have ts > wm - TOL, so their backward
    # window never reaches below wm - 2·TOL; future clicks only look
    # even later. Keep the rest of the purchase horizon.
    keep_p = p_ts >= wm_us - 2 * TOL_US
    p_users, p_ids, p_ts = p_users[keep_p], p_ids[keep_p], p_ts[keep_p]
    pend = ~decide
    c_users, c_ids, c_ts = c_users[pend], c_ids[pend], c_ts[pend]

    if not (len(c_ids) or len(p_ids)):
        return out, None, None
    if len(c_ts):
        wake_ms = max(int(c_ts.min() + TOL_US) // 1000, wm_us // 1000) + 1
    else:
        # Purchase-only shard: without a timer its horizon is only pruned
        # when new data happens to arrive, so a quiescent shard would pin
        # state past its 2·TOL usefulness. Fire once the retained horizon
        # ages out; the timer call re-runs the prune and drops the state
        # when nothing survives.
        wake_ms = wm_us // 1000 + 2 * TOL_US // 1000 + 1
    return out, (c_users, c_ids, c_ts, p_users, p_ids, p_ts), wake_ms


@register(
    "stream_join_asof_nearest",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'),
    purch AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS p_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)),
    back AS (
      SELECT c.event_id, p.p_id, p.ts,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
                                ORDER BY p.ts DESC) AS rn
      FROM clicks c JOIN purch p
        ON p.user_id = c.user_id AND p.ts <= c.ts
       AND p.ts >= c.ts - INTERVAL {TOLERANCE_MIN} MINUTE),
    fwd AS (
      SELECT c.event_id, p.p_id, p.ts,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
                                ORDER BY p.ts ASC) AS rn
      FROM clicks c JOIN purch p
        ON p.user_id = c.user_id AND p.ts > c.ts
       AND p.ts <= c.ts + INTERVAL {TOLERANCE_MIN} MINUTE),
    picked AS (
      SELECT c.event_id, c.user_id, c.ts,
             b.p_id AS b_id, b.ts AS b_ts, f.p_id AS f_id, f.ts AS f_ts
      FROM clicks c
      LEFT JOIN (SELECT event_id, p_id, ts FROM back WHERE rn = 1) b
        USING (event_id)
      LEFT JOIN (SELECT event_id, p_id, ts FROM fwd WHERE rn = 1) f
        USING (event_id)
      -- the stream's watermark tracks clicks and purchases only
      WHERE c.ts + INTERVAL {TOLERANCE_MIN} MINUTE
            <= {sql_final_watermark(DELAY_SQL, ("click", "purchase"))})
    SELECT event_id, user_id, ts,
           CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR
                  epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
                THEN b_id
                WHEN f_id IS NOT NULL THEN f_id END AS nearest_purchase_id,
           CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR
                  epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
                THEN b_ts
                WHEN f_id IS NOT NULL THEN f_ts END AS nearest_purchase_ts,
           CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR
                  epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
                THEN 'backward'
                WHEN f_id IS NOT NULL THEN 'forward' END AS direction
    FROM picked
    """,
)
def stream_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``join_asof_nearest``: for each click, the
    same-user purchase nearest in time within ±10 minutes, backward
    winning ties — decided exactly once when the watermark passes
    ``click_ts + tolerance``, at which point every candidate purchase has
    provably arrived. Clicks whose decision point the final watermark
    never reaches stay pending and emit nothing; the oracle's WHERE
    mirrors that cutoff (and its ±tolerance joins mirror the bounded
    search the streaming contract adds to the batch op's unbounded one).

    Plan: one shard shuffle into the sharded state core; candidate
    picking is two vectorized ``merge_asof`` passes per batch (backward
    allow-exact, forward exact-excluded — the coincident-purchase tie
    rule). State = clicks within one tolerance of the watermark +
    purchases within two (see module docstring prune argument)."""
    src = read_events_stream(spark, sf_dir, files_per_trigger=4)
    flow = src.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "ts", "user_id", (F.col("event_type") == "click").alias("is_click")
    )
    decided = apply_sharded(flow, _nearest_step, _OUT_SCHEMA, N_SHARDS)
    return run_to_memory(decided, "append").select(
        "event_id",
        "user_id",
        F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
        F.col("nearest_purchase_id").cast("long").alias("nearest_purchase_id"),
        F.timestamp_micros(F.col("nearest_ts_us"))
        .cast("timestamp_ntz")
        .alias("nearest_purchase_ts"),
        "direction",
    )
