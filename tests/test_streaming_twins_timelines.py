"""Hand-built timelines for the r8 streaming twins — the r7 pattern
(nearest-as-of tie rules / CDC-diff transitions pinned on constructed
histories) applied to the streaming side. The synthetic fixture exercises
volume; these pin the EDGE semantics the fixture hits only by accident:
the coincident-purchase backward rule, the equal-gap backward tiebreak,
the just-inside/just-outside tolerance boundary, the undecided watermark
tail, and the exact changed_cols strings per column-transition kind.

The timeline is written as a real events.parquet (schema-identical to the
driver fixture) and streamed through the ops' own staging, so these tests
drive the full path: stage → micro-batches → watermark → state → emit.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from node_cdc_nats_spark import registry

registry.load_all()

BASE = datetime.datetime(2025, 1, 1, 0, 0, 0)


def _m(minutes: float) -> datetime.datetime:
    return BASE + datetime.timedelta(minutes=minutes)


# (event_id, ts_min, user_id, event_type, value, props) — event_ids are
# assigned in ts order so the 'time' staging yields in-order micro-batches
# (every id-quartile bucket non-empty: 0-2 / 3-4 / 5-7 / 8-9).
TIMELINE = [
    (0, 0, 2, "purchase", 1.0, "a"),
    (1, 5, 2, "click", 1.0, "a"),        # 5m back vs 5m fwd → backward
    (2, 10, 2, "purchase", 2.5, None),   # type+value+props all change
    (3, 15, 1, "click", 7.0, None),
    (4, 15, 1, "purchase", 7.0, "x"),    # coincident → backward, dist 0
    (5, 20, 3, "click", 0.5, "p"),
    (6, 29, 3, "purchase", 0.5, "p"),    # 9m → forward (just inside ±10)
    (7, 35, 4, "click", 3.0, "q"),
    (8, 50, 4, "purchase", 3.0, "q"),    # 15m → outside tolerance
    (9, 240, 99, "click", 0.0, None),    # sentinel: watermark → 210m
]


@pytest.fixture(scope="module")
def timeline_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("timeline_sf")
    ids, tss, users, types, values, props = zip(
        *[(i, _m(t), u, ty, v, p) for i, t, u, ty, v, p in TIMELINE]
    )
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(table, f"{out}/events.parquet")
    return str(out)


def test_stream_asof_nearest_tie_rules_on_timeline(spark, timeline_dir):
    rows = {
        r.event_id: r
        for r in registry.QUERIES["stream_join_asof_nearest"](
            spark, timeline_dir
        ).collect()
    }
    # The sentinel click (ts 240m) is past the final watermark's decision
    # horizon (240 + 10 > 210) and must NOT emit.
    assert set(rows) == {1, 3, 5, 7}
    # Equal gaps (5m back, 5m fwd): backward wins.
    assert rows[1].nearest_purchase_id == 0 and rows[1].direction == "backward"
    # Coincident purchase: backward at distance zero, never forward.
    assert rows[3].nearest_purchase_id == 4 and rows[3].direction == "backward"
    assert rows[3].nearest_purchase_ts == _m(15)
    # 9m forward, no backward candidate: forward.
    assert rows[5].nearest_purchase_id == 6 and rows[5].direction == "forward"
    # 15m is outside ±10: an explicit no-match row, not absence.
    assert rows[7].nearest_purchase_id is None and rows[7].direction is None


def test_stream_cdc_column_diff_transitions_on_timeline(spark, timeline_dir):
    rows = {
        r.event_id: r
        for r in registry.QUERIES["stream_cdc_column_diff"](
            spark, timeline_dir
        ).collect()
    }
    # Everything at-or-below the 210m watermark emits; the sentinel doesn't.
    assert set(rows) == set(range(9))
    # First version per user is the insert, with no diff payload.
    for eid in (0, 3, 5, 7):
        r = rows[eid]
        assert (r.op, r.changed_cols, r.n_changed, r.value_delta) == (
            "I", None, 0, None,
        )
    # Single-column transition: event_type only (value and props equal).
    assert (rows[1].op, rows[1].changed_cols, rows[1].n_changed) == (
        "U", "event_type", 1,
    )
    assert rows[1].value_delta == 0.0
    # All three columns change, including props a → NULL (null-safe).
    assert (rows[2].changed_cols, rows[2].n_changed) == ("event_type,value,props", 3)
    assert rows[2].value_delta == 1.5
    # props NULL → 'x' counts as changed; value equal does not.
    assert (rows[4].changed_cols, rows[4].n_changed) == ("event_type,props", 2)
    assert rows[4].value_delta == 0.0
    # type-only change with equal value/props (u3, u4 pairs).
    assert rows[6].changed_cols == "event_type"
    assert rows[8].changed_cols == "event_type"


def test_stream_ohlc_buckets_on_timeline(spark, timeline_dir):
    rows = {
        (r.event_type, r.bucket): r
        for r in registry.QUERIES["stream_downsample_ohlc"](
            spark, timeline_dir
        ).collect()
    }
    # Hour-0 buckets for both types close (end 60m <= the 210m watermark);
    # the sentinel click's hour-4 bucket stays open and must not emit.
    assert set(rows) == {("purchase", BASE), ("click", BASE)}
    p = rows[("purchase", BASE)]
    # open = first by (ts, event_id): id0 @0m value 1.0; close = last:
    # id8 @50m value 3.0.
    assert (p.open, p.high, p.low, p.close) == (1.0, 7.0, 0.5, 3.0)
    assert (p.n_events, p.vsum) == (5, 14.0)
    c = rows[("click", BASE)]
    assert (c.open, c.high, c.low, c.close) == (1.0, 7.0, 0.5, 3.0)
    assert (c.n_events, c.vsum) == (4, 11.5)


# ids deliberately NOT in ts order: within a micro-batch the clicks arrive
# unsorted, so the state fn's decide frame gets a PERMUTED index after its
# ts sort — the alignment trap behind the r9 sf0.1 regression (pandas
# aligns Series by index in the DataFrame constructor; q's columns must be
# reset to the merge results' RangeIndex or pairings scramble).
SCRAMBLED = [
    (0, 10, 1, "click", 1.0, "a"),      # u1: backward to id 1 (4m)
    (1, 6, 1, "purchase", 1.0, "a"),
    (2, 0, 2, "click", 1.0, "b"),       # u2: forward to id 3 (5m)
    (3, 5, 2, "purchase", 1.0, "b"),
    (4, 8, 3, "click", 1.0, "c"),       # u3: backward to id 5 (5m)
    (5, 3, 3, "purchase", 1.0, "c"),
    (6, 240, 99, "click", 0.0, None),   # sentinel: watermark → 210m
]


@pytest.fixture(scope="module")
def scrambled_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("timeline_scrambled_sf")
    ids, tss, users, types, values, props = zip(
        *[(i, _m(t), u, ty, v, p) for i, t, u, ty, v, p in SCRAMBLED]
    )
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(table, f"{out}/events.parquet")
    return str(out)


def test_stream_asof_nearest_pairs_out_of_order_arrivals(spark, scrambled_dir):
    rows = {
        r.event_id: r
        for r in registry.QUERIES["stream_join_asof_nearest"](
            spark, scrambled_dir
        ).collect()
    }
    assert set(rows) == {0, 2, 4}
    assert rows[0].nearest_purchase_id == 1 and rows[0].direction == "backward"
    assert rows[0].user_id == 1
    assert rows[2].nearest_purchase_id == 3 and rows[2].direction == "forward"
    assert rows[2].user_id == 2
    assert rows[4].nearest_purchase_id == 5 and rows[4].direction == "backward"
    assert rows[4].user_id == 3


# -- streaming incremental-ingest dedup ----------------------------------------
def test_stream_dedup_incremental_rejects_cross_round_duplicates(
    spark, tmp_path
):
    """A hand-built corpus with KNOWN duplicate placement: intra-round
    dups (ids 0/1 share a text, arriving in the same staged shipment) must
    collapse to the lower id, and CROSS-round dups (ids 6/7 repeat round-1
    texts in the last shipment) must be rejected by the kept-table path —
    the Bloom filter must have LEARNED round 1's hashes for that rejection
    to be cheap, and the exact anti-join makes it correct. (The fixture
    corpus at the test SF has no duplicate texts at all, so this synthetic
    timeline is what actually exercises the maintenance loop.)"""
    texts = [
        "alpha doc", "alpha doc", "bravo doc", "charlie doc",
        "delta doc", "echo doc", "alpha doc", "charlie doc",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(8), pa.int64()),
            "text": pa.array(texts),
            "source": pa.array(["s"] * 8),
            "lang": pa.array(["en"] * 8),
        }
    )
    sf = tmp_path / "sf_synth"
    sf.mkdir()
    pq.write_table(tbl, sf / "documents.parquet")
    got = registry.QUERIES["stream_dedup_incremental"](spark, str(sf))
    rows = sorted((r.doc_id, r.content_hash) for r in got.collect())
    # keep-first by doc_id: 0 (alpha), 2 (bravo), 3 (charlie), 4 (delta),
    # 5 (echo); 1 dies intra-round, 6 and 7 die cross-round.
    assert [d for d, _ in rows] == [0, 2, 3, 4, 5]
    assert len({h for _, h in rows}) == 5


# -- streaming funnel ----------------------------------------------------------
FUNNEL_TL = [
    # (event_id, ts_min, user_id, event_type) — event_id is ARRIVAL order
    # (staging buckets 0-2 / 3-4 / 5-7 / 8-9), deliberately decoupled from
    # event time to force cross-batch promotions; the whole span is 20m, so
    # under the 30m watermark delay nothing is ever dropped and the result
    # must equal the batch funnel exactly.
    (0, 10, 1, "click"),      # batch 0: click before its signup ARRIVES
    (1, 8, 2, "purchase"),    # batch 0: purchase pending for 3 batches
    (2, 3, 3, "purchase"),    # batch 0: early purchase — must NOT count
    (3, 6, 2, "click"),       # batch 1: click pending (no signup yet)
    (4, 15, 4, "signup"),     # batch 1
    (5, 5, 1, "signup"),      # batch 2: LATE signup qualifies user 1's click
    (6, 20, 3, "click"),      # batch 2
    (7, 18, 4, "purchase"),   # batch 2: purchase without any click
    (8, 2, 2, "signup"),      # batch 3: qualifies click 6m, then purchase 8m
    (9, 12, 3, "signup"),     # batch 3: click 20m qualifies; purchase 3m < C
]


@pytest.fixture(scope="module")
def funnel_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("timeline_funnel_sf")
    ids, tss, users, types = zip(
        *[(i, _m(t), u, ty) for i, t, u, ty in FUNNEL_TL]
    )
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array([1.0] * len(ids), pa.float64()),
            "props": pa.array([None] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, f"{out}/events.parquet")
    return str(out)


def test_stream_funnel_promotes_across_batches(spark, funnel_dir):
    """Cross-batch monotone promotions: user 1's click is qualified by a
    signup arriving two batches later with an EARLIER event time; user 2's
    purchase waits three batches for its click→signup chain to complete;
    user 3's early purchase must never count (it precedes the first
    qualified click in event time); user 4 has no click at all."""
    row = registry.QUERIES["stream_funnel"](spark, funnel_dir).collect()[0]
    assert (
        row.n_signup,
        row.n_click_after_signup,
        row.n_purchase_after_click,
    ) == (4, 3, 1)
    # twin equivalence on the same timeline
    batch = registry.QUERIES["funnel_conversion"](spark, funnel_dir).collect()[0]
    assert (
        batch.n_signup,
        batch.n_click_after_signup,
        batch.n_purchase_after_click,
    ) == (4, 3, 1)


# ---------------------------------------------------------------------------
# stream_ab_lift — cross-batch conversion promotion
# ---------------------------------------------------------------------------

AB_TL = [
    # (event_id, ts_min, user_id, event_type, value) — event_id is ARRIVAL
    # order (staging buckets 0-2 / 3-4 / 5-7 / 8-9). Users chosen so both
    # md5 variants are populated: md5('6')[0]='1', md5('9')[0]='4' → A;
    # md5('1')[0]='c', md5('2')[0]='c' → B.
    (0, 1, 6, "click", 500.0),       # batch 0: high VALUE but not purchase
    (1, 2, 1, "purchase", 50.0),     # batch 0: purchase but low value
    (2, 3, 2, "click", 1.0),         # batch 0
    (3, 4, 9, "purchase", 150.0),    # batch 1: still below the 200 bar
    (4, 5, 6, "purchase", 199.0),    # batch 1: just below — no conversion
    (5, 6, 1, "click", 999.0),       # batch 2: value high, type wrong
    (6, 7, 2, "purchase", 201.0),    # batch 2: B-user converts LATE
    (7, 8, 9, "purchase", 1000.0),   # batch 2: A-user converts
    (8, 9, 6, "click", 1.0),         # batch 3: post-decision noise
    (9, 10, 1, "click", 1.0),        # batch 3
]


@pytest.fixture(scope="module")
def ab_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("timeline_ab_sf")
    ids, tss, users, types, values = zip(
        *[(i, _m(t), u, ty, v) for i, t, u, ty, v in AB_TL]
    )
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([None] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, f"{out}/events.parquet")
    return str(out)


def test_stream_ab_lift_promotes_across_batches(spark, ab_dir):
    """Cross-batch monotone conversion: every user emits cv=0 in early
    batches (high value on the wrong type, purchases below the 200 bar)
    and two users flip to cv=1 in a LATER batch — the per-user MAX over
    update-mode emissions must keep exactly those flips, and the variant
    census must match the md5 bucketing. Twin equivalence is asserted on
    the same timeline."""
    import hashlib

    variants = {
        u: "A" if hashlib.md5(str(u).encode()).hexdigest()[0] <= "7" else "B"
        for u in (6, 9, 1, 2)
    }
    assert sorted(variants.values()) == ["A", "A", "B", "B"]
    got = registry.QUERIES["stream_ab_lift"](spark, ab_dir).collect()[0]
    # converters: user 2 (B, late), user 9 (A); non: 6 (A), 1 (B)
    assert (got.n_a, got.n_b, got.conv_a, got.conv_b) == (2, 2, 1, 1)
    assert got.rate_a == 0.5 and got.rate_b == 0.5 and got.lift == 0.0
    batch = registry.QUERIES["events_ab_lift"](spark, ab_dir).collect()[0]
    assert tuple(got) == tuple(batch)  # bit-identical twin report


# ---------------------------------------------------------------------------
# stream_retention_cohorts — cross-batch anchor correction
# ---------------------------------------------------------------------------

WEEK = 7 * 24 * 60  # minutes

RET_TL = [
    # (event_id, ts_min, user_id) — event_id is ARRIVAL order (staging
    # buckets 0-2 / 3-4 / 5-7 / 8-9). User 2's WEEK-2 event arrives in
    # batch 0 and their true FIRST event (week 0) only in batch 2, so the
    # cohort anchor must retro-shift: early emissions carry a wrong
    # (week-2-anchored) cohort that the monotone MIN fold must supersede.
    (0, 0, 1),                # batch 0: u1 week 0
    (1, 2 * WEEK + 30, 2),    # batch 0: u2 week 2 FIRST-SEEN (not first)
    (2, 1 * WEEK + 10, 3),    # batch 0: u3 week 1
    (3, 1 * WEEK + 20, 1),    # batch 1: u1 week 1
    (4, 1 * WEEK + 25, 1),    # batch 1: u1 week 1 again (dedup inside week)
    (5, 15, 2),               # batch 2: u2 TRUE first event, week 0
    (6, 2 * WEEK + 40, 1),    # batch 2: u1 week 2
    (7, 1 * WEEK + 50, 3),    # batch 2: u3 week 1 repeat
    (8, 5, 1),                # batch 3: u1 week 0 repeat
    (9, 2 * WEEK + 60, 2),    # batch 3: u2 week 2 repeat
]


@pytest.fixture(scope="module")
def retention_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("timeline_retention_sf")
    ids, tss, users = zip(*[(i, _m(t), u) for i, t, u in RET_TL])
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["click"] * len(ids), pa.string()),
            "value": pa.array([1.0] * len(ids), pa.float64()),
            "props": pa.array([None] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, f"{out}/events.parquet")
    return str(out)


def test_stream_retention_cohorts_out_of_order_anchor(spark, retention_dir):
    """The cohort anchor is MIN(ts): a user whose first-SEEN event is a
    week-2 event must retro-shift to the week-0 cohort when the true first
    event arrives two micro-batches later — the stale week-2-anchored
    emission rows must collapse into the corrected cohort, never survive
    as a phantom cohort row. Twin equivalence is asserted bit-for-bit on
    the same timeline (the two report tails are separate code by design —
    this test is the drift guard)."""
    import datetime as dt

    got = [
        tuple(r)
        for r in registry.QUERIES["stream_retention_cohorts"](
            spark, retention_dir
        ).collect()
    ]
    batch = [
        tuple(r)
        for r in registry.QUERIES["retention_cohorts"](
            spark, retention_dir
        ).collect()
    ]
    assert got == batch  # bit-identical twin table
    w0 = dt.date(2024, 12, 30)  # Monday of BASE's (2025-01-01) week
    w1 = dt.date(2025, 1, 6)
    want = [
        (w0, 0, 2),  # u1 + u2 (u2 only via the retro-shifted anchor)
        (w0, 1, 1),  # u1
        (w0, 2, 2),  # u1 + u2
        (w1, 0, 1),  # u3 (never retro-shifted)
    ]
    assert got == want


# ---------------------------------------------------------------------------
# stream_anomaly_zscore — cross-batch moment accumulation
# ---------------------------------------------------------------------------

# (event_id, event_type, value) — event_id is ARRIVAL order (staging
# buckets 0-5 / 6-11 / 12-17 / 18-23). Type "m"'s outlier (value 100)
# arrives in batch 0, where the partial moments (n=2: values 10, 100 →
# σ=45, z=1) would NOT flag it; only the full-stream moments (17 values:
# 16×10 + 100 → z≈4.0) do. So a fold that keeps any emission but each
# type's LAST cumulative one flips the flag set. Type "c" is constant
# (σ=0) and must emit nothing — the NULLIF degenerate-group guard.
ZS_TL = [
    (i, "c", 5.0) if i in {2, 5, 7, 11, 13, 19, 23} else
    (i, "m", 100.0 if i == 1 else 10.0)
    for i in range(24)
]


@pytest.fixture(scope="module")
def zscore_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("timeline_zscore_sf")
    ids, types, values = zip(*ZS_TL)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([_m(i) for i in ids], pa.timestamp("us")),
            "user_id": pa.array([1] * len(ids), pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([None] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, f"{out}/events.parquet")
    return str(out)


def test_stream_anomaly_zscore_accumulates_across_batches(spark, zscore_dir):
    """The per-type moments must be the FULL stream's, not any prefix's: the
    batch-0 partial for type "m" (n=2 → z(100)=1) would flag nothing, the
    whole stream (n=17, 16×10 + one 100) flags exactly the 100. Twin
    equivalence is asserted bit-for-bit on the same timeline (the moment
    tree and z tail are SHARED code — this test is the wrong-emission-fold
    guard, and the constant type "c" pins the σ=0 NULLIF path)."""
    import math

    got = [
        tuple(r)
        for r in registry.QUERIES["stream_anomaly_zscore"](
            spark, zscore_dir
        ).collect()
    ]
    batch = [
        tuple(r)
        for r in registry.QUERIES["events_anomaly_zscore"](
            spark, zscore_dir
        ).collect()
    ]
    assert got == batch  # bit-identical twin table
    # Hand check: n=17, Σx=260, Σx²=11600 — the same IEEE tree in Python.
    m = 260.0 / 17.0
    sd = math.sqrt(max(11600.0 / 17.0 - m * m, 0.0))
    assert len(got) == 1
    eid, etype, value, z = got[0]
    assert (eid, etype, value) == (1, "m", 100.0)
    assert z == (100.0 - m) / sd


@pytest.mark.parametrize(
    "name", ["stream_upsert", "stream_tumble", "stream_dedup_incremental"]
)
def test_streaming_ops_remove_their_checkpoints(spark, monkeypatch, name):
    """A bounded run's checkpoint is throwaway: stream_upsert (foreachBatch
    into a parquet target), stream_tumble (run_to_memory's memory sink) and
    stream_dedup_incremental (the kept table) each remove it once the query
    has terminated, while the returned frame still reads its rows."""
    import os
    import tempfile

    from tests.conftest import SF_DIR

    made = []
    real = tempfile.mkdtemp

    def recording(*args, **kwargs):
        path = real(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", recording)
    rows = registry.QUERIES[name](spark, SF_DIR).collect()
    assert rows
    ckpts = [p for p in made if os.path.basename(p).startswith("ckpt_")]
    assert len(ckpts) == 1, made
    assert [p for p in ckpts if os.path.exists(p)] == []
