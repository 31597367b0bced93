"""Continuous ordered-funnel census — the streaming twin of
``funnel_conversion`` (operators/analytics.py): per-user
signup → click → purchase stage flags maintained incrementally across
micro-batches, folded to the same 1-row census the batch operator emits.

Why this needs custom state: the batch funnel is a running-window
computation (stage N counts only at-or-after the first stage-N-1
completion in (ts, event_id) order), and window functions don't stream.
The incremental re-statement exploits that all three stage flags are
MONOTONE under new data: the first-signup key ``S`` only ever decreases, a
decreasing ``S`` can only QUALIFY more clicks (so the first-qualified-click
key ``C`` only decreases), and a decreasing ``C`` can only qualify more
purchases (s3 only flips false→true). So state per user is tiny — ``S``,
``C``, the s3 bit, and the clicks/purchases that are not yet qualified but
still could be — and the LAST emission per user equals the batch answer
over all data (the oracle is the batch operator's oracle, spliced
verbatim). Equivalence caveat (the same caveat the other streaming twins
carry): Spark's stateful operator drops input rows older
than the current watermark, so the batch-oracle identity holds while
replay disorder stays within the 30-minute ``DELAY`` — which the staged
fixture guarantees; an event arriving MORE than DELAY out of event-time
order would be silently excluded from the census.

Pruning (the 100 TB story): a pending click can only be qualified by a
future signup, and future arrivals sit at-or-above the watermark — so a
pending click below the watermark is dead and is dropped every invocation
(likewise pending purchases vs the minimum future ``C``). Once s3 is set,
the user's pendings clear entirely. State is therefore bounded by traffic
inside one watermark horizon plus three scalars per user, never by stream
length — and the per-user scalars are exactly the state a production
funnel (Amplitude/Mixpanel-style) keeps.

Reference: the reference client (lib/nats.js) delivers events and leaves
analysis to the consumer; this is engine-added capability in the event
analytics family (SURVEY §2.2), sharing ``funnel_conversion``'s exact
stage semantics.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..operators.analytics import FUNNEL_ORACLE
from ..registry import register
from .sharded import apply_sharded
from .source import read_events_stream, run_to_memory

cloudpickle.register_pickle_by_value(sys.modules[__name__])

N_SHARDS = 4
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("s1", IntegerType()),
        StructField("s2", IntegerType()),
        StructField("s3", IntegerType()),
    ]
)


def _funnel_step(state, batch, wm_us):
    """One shard's step (``streaming/sharded.py``). State: uid ->
    [S, C, s3, pend_clicks, pend_purchases], where keys are
    (ts_us, event_id) tuples compared lexicographically — the batch
    operator's (ts, event_id) window order. It never sets a timer."""
    users = dict(state or {})  # a user's entry is replaced, never mutated
    if batch is None:
        return None, users, None
    ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()  # ns -> us
    uids = batch["user_id"].to_numpy()
    eids = batch["event_id"].to_numpy()
    etypes = batch["event_type"].to_numpy()

    touched: dict[int, list[list]] = {}
    for i in range(len(batch)):
        touched.setdefault(int(uids[i]), []).append(
            [(int(ts_us[i]), int(eids[i])), etypes[i]]
        )

    out_rows = []
    for uid, evs in touched.items():
        S, C, s3, pend_c, pend_p = users.get(uid) or [None, None, False, [], []]
        new_sign = [k for k, t in evs if t == "signup"]
        new_click = [k for k, t in evs if t == "click"]
        new_purch = [k for k, t in evs if t == "purchase"]
        if new_sign:
            s_min = min(new_sign)
            if S is None or s_min < S:
                S = s_min
        if not s3:
            # qualify clicks against the (possibly lowered) S
            cand_c = pend_c + new_click
            if S is not None:
                qual = [k for k in cand_c if k >= S]
                if qual:
                    q_min = min(qual)
                    if C is None or q_min < C:
                        C = q_min
                pend_c = [k for k in cand_c if k < S]
            else:
                pend_c = cand_c
            # qualify purchases against the (possibly lowered) C
            cand_p = pend_p + new_purch
            if C is not None:
                if any(k >= C for k in cand_p):
                    s3 = True
                else:
                    pend_p = cand_p
            else:
                pend_p = cand_p
        if s3:
            # flags are final-able: S and C exist, nothing else matters
            pend_c, pend_p = [], []
        else:
            # watermark prune: a pending click (purchase) below the
            # watermark can never be qualified by a future S (C),
            # because future arrivals sit at-or-above the watermark
            pend_c = [k for k in pend_c if k[0] >= wm_us]
            pend_p = [k for k in pend_p if k[0] >= wm_us]
        users[uid] = [S, C, s3, pend_c, pend_p]
        out_rows.append((uid, int(S is not None), int(C is not None), int(s3)))

    return pd.DataFrame(out_rows, columns=["user_id", "s1", "s2", "s3"]), users, None


@register("stream_funnel", oracle=FUNNEL_ORACLE)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``funnel_conversion``: per-user stage flags are
    maintained in sharded state (see module docstring) and re-emitted on
    every batch that touches the user; because the flags are monotone, the
    per-user MAX over emissions equals the batch answer over all data, so
    the census is the same 1-row report and the oracle is the batch
    operator's oracle verbatim — no watermark cutoff in the semantics."""
    src = read_events_stream(spark, sf_dir, files_per_trigger=4)
    flow = src.filter(F.col("event_type").isin("signup", "click", "purchase")).select(
        "event_id", "ts", "user_id", "event_type"
    )
    flags = apply_sharded(
        flow, _funnel_step, _OUT_SCHEMA, N_SHARDS, "update", event_timers=False
    )
    sink = run_to_memory(flags, "update")
    per_user = sink.groupBy("user_id").agg(
        F.max("s1").alias("s1"), F.max("s2").alias("s2"), F.max("s3").alias("s3")
    )
    return per_user.agg(
        F.sum("s1").alias("n_signup"),
        F.sum("s2").alias("n_click_after_signup"),
        F.sum("s3").alias("n_purchase_after_click"),
    )
