"""Streaming RPC correlation with first-wins and 408 timeout — the
reference's `rpc()` (`lib/nats.js:196-256`) as a custom stateful streaming
operator (SURVEY.md §4.2 item 3, the one genuinely stateful piece of custom
logic in the engine).

Reference semantics being reproduced:
- subscribe to N response subjects, publish request (`lib/nats.js:215-236`)
- FIRST response wins (`lib/nats.js:216-223`) — here: minimum response
  event-time, tie-broken by response id
- no response within the timeout resolves {code: 408} exactly once
  (`lib/nats.js:238-247`)

Event-time correctness requires deciding a request only once the watermark
passes its deadline (any response that could still beat the current winner
has then provably arrived), so BOTH outcomes emit at watermark-crossing
time, run by the sharded state core (`streaming/sharded.py`) with
event-time timers. Requests whose deadline the final watermark never
reaches stay pending and emit nothing — the oracle applies the same
cutoff.

State per shard: pending (user, req_id, req_ts) triples + responses not
yet safely discardable. Responses with ts < watermark - timeout can serve
no undecided or future request (late input is dropped at the watermark),
so they are pruned every invocation — state is bounded by traffic within
one timeout horizon, never by stream length. That prune IS the 100 TB
story: traffic-per-horizon, independent of history.
"""

from __future__ import annotations

import sys
from functools import partial

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..registry import register
from .sharded import DELAY_SQL, apply_sharded
from .source import read_events_stream, run_to_memory, sql_final_watermark

cloudpickle.register_pickle_by_value(sys.modules[__name__])

TIMEOUT_MIN = 10
TIMEOUT_US = TIMEOUT_MIN * 60 * 1_000_000
N_SHARDS = 4
_OUT_SCHEMA = StructType(
    [
        StructField("req_id", LongType()),
        StructField("resp_id", LongType()),
        StructField("code", IntegerType()),
    ]
)
_OUT_DTYPES = {"req_id": "int64", "resp_id": "float64", "code": "int32"}


def _rpc_step(state, batch, wm_us, res_process=None):
    """One shard's step (``streaming/sharded.py``). State: six int64
    vectors, the pending requests' (user, id, ts) and the candidate
    responses' (user, id, ts).

    ``res_process`` is the reference's winner-transform hook
    (``options.resProcess``, lib/nats.js:218-222): a pandas
    DataFrame→DataFrame callable applied to each batch of DECIDED winners
    (code 200) at resolution time, before emission — 408 decisions never
    see it, exactly like the reference."""
    req_users, req_ids, req_ts, resp_users, resp_ids, resp_ts = (
        state or [np.empty(0, dtype=np.int64)] * 6
    )
    if batch is not None:
        ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()  # ns -> us
        is_req = batch["is_req"].to_numpy()
        uid = batch["user_id"].to_numpy()
        eid = batch["event_id"].to_numpy()
        req_users = np.concatenate([req_users, uid[is_req]])
        req_ids = np.concatenate([req_ids, eid[is_req]])
        req_ts = np.concatenate([req_ts, ts_us[is_req]])
        resp_users = np.concatenate([resp_users, uid[~is_req]])
        resp_ids = np.concatenate([resp_ids, eid[~is_req]])
        resp_ts = np.concatenate([resp_ts, ts_us[~is_req]])

    decide = req_ts + TIMEOUT_US <= wm_us  # every response <= deadline has arrived

    out = None
    if decide.any():
        # First-response-wins as a vectorized per-user forward as-of
        # match: responses deduped to the min resp_id per (user, ts)
        # (the (ts, id) tie-break), then merge_asof picks the nearest
        # response with rts <= pts <= rts + TIMEOUT for each request.
        q = pd.DataFrame(
            {
                "user": req_users[decide],
                "ts": req_ts[decide],
                "req_id": req_ids[decide],
            }
        ).sort_values("ts", kind="mergesort")
        r = (
            pd.DataFrame({"user": resp_users, "ts": resp_ts, "resp_id": resp_ids})
            .sort_values(["ts", "resp_id"], kind="mergesort")
            .drop_duplicates(["user", "ts"], keep="first")
        )
        m = pd.merge_asof(
            q, r, on="ts", by="user",
            direction="forward", tolerance=TIMEOUT_US,
        )
        out = pd.DataFrame(
            {
                "req_id": m["req_id"],
                "resp_id": m["resp_id"],
                "code": np.where(m["resp_id"].notna(), 200, 408),
            }
        ).astype(_OUT_DTYPES)
        if res_process is not None:
            won = out["code"] == 200
            if won.any():
                out = pd.concat([res_process(out[won].copy()), out[~won]]).astype(
                    _OUT_DTYPES
                )

    # Prune: a response older than one timeout horizon below the
    # watermark can serve no undecided or future request.
    keep_r = resp_ts + TIMEOUT_US >= wm_us
    resp_users, resp_ids, resp_ts = resp_users[keep_r], resp_ids[keep_r], resp_ts[keep_r]
    pend = ~decide
    req_users, req_ids, req_ts = req_users[pend], req_ids[pend], req_ts[pend]

    if not (len(req_ids) or len(resp_ids)):
        return out, None, None
    wake_ms = int(req_ts.min() + TIMEOUT_US) // 1000 if len(req_ts) else None
    return out, (req_users, req_ids, req_ts, resp_users, resp_ids, resp_ts), wake_ms


@register(
    "stream_rpc_state",
    oracle=f"""
    WITH req AS (
      SELECT event_id AS req_id, user_id, CAST(ts AS TIMESTAMP) AS req_ts
      FROM events WHERE event_type = 'click'),
    resp AS (
      SELECT event_id AS resp_id, user_id, CAST(ts AS TIMESTAMP) AS resp_ts
      FROM events WHERE event_type IN ('purchase', 'signup')),
    matched AS (
      SELECT r.req_id, p.resp_id,
             ROW_NUMBER() OVER (PARTITION BY r.req_id
                                ORDER BY p.resp_ts, p.resp_id) AS rn
      FROM req r JOIN resp p
        ON p.user_id = r.user_id
       AND p.resp_ts >= r.req_ts
       AND p.resp_ts <= r.req_ts + INTERVAL {TIMEOUT_MIN} MINUTE)
    SELECT q.req_id, m.resp_id,
           CAST(CASE WHEN m.resp_id IS NULL THEN 408 ELSE 200 END AS INT) AS code
    FROM req q LEFT JOIN (SELECT req_id, resp_id FROM matched WHERE rn = 1) m
      USING (req_id)
    -- the stream filters to the three RPC event types BEFORE its
    -- watermark, so the final cutoff is the max ts of those types
    WHERE q.req_ts + INTERVAL {TIMEOUT_MIN} MINUTE
          <= {sql_final_watermark(DELAY_SQL, ("click", "purchase", "signup"))}
    """,
)
def stream_rpc_state(spark: SparkSession, sf_dir: str, res_process=None) -> DataFrame:
    """Streaming twin of ``rpc_first_response`` (operators/cdc.py): 'click'
    events are requests, 'purchase'/'signup' the unioned response subjects,
    user_id the correlation key, 10-minute timeout under a 30-minute
    watermark. Decisions (200 with the first response, or 408) emit
    exactly once, when the watermark crosses each request's deadline;
    requests the final watermark never reaches are still pending and emit
    nothing, which the oracle's WHERE mirrors.

    Cost decomposition (sf0.1, min of 3 on local[32], one staged file per
    trigger: 4 data triggers + the no-data flush): 4.16 s, of which the
    matching logic itself is ~0.6 s — a no-op state fn over the same
    pipeline costs 3.52 s and a stateless passthrough of the same source
    1.02 s. The cost is micro-batch MACHINERY: each trigger pays a fixed
    ~0.66 s (offset/commit WAL ~70 ms, state-store open+snapshot
    ~65 ms/partition, queryPlanning ~30 ms, and the
    state operator's Arrow round-trip + state (de)serialize, which
    dominates). RocksDB (+0.5 s) and bigger Arrow batches (±0) don't move
    it; trigger COUNT does. So this bounded run ingests all 4 staged files
    in one data trigger and the no-data flush decides what the final
    watermark reached; requests still carry in state from one trigger to
    the next. A production deployment sizes its trigger interval the same
    way: by throughput, never one file per batch."""
    src = read_events_stream(spark, sf_dir, files_per_trigger=4)
    # Request/response classification happens JVM-side so only a boolean
    # (not the event_type string) crosses the state shuffle and Arrow.
    flow = src.filter(F.col("event_type").isin("click", "purchase", "signup")).select(
        "event_id", "ts", "user_id", (F.col("event_type") == "click").alias("is_req")
    )
    step = partial(_rpc_step, res_process=res_process)
    decided = apply_sharded(flow, step, _OUT_SCHEMA, N_SHARDS)
    return run_to_memory(decided, "append").select(
        "req_id", F.col("resp_id").cast("long").alias("resp_id"), "code"
    )
