"""Reference-parity tests for the client facade (`node_cdc_nats_spark/
client.py`) — each test pins one behavior documented in SURVEY.md §2.1's
"behavioral details worth preserving" list, with the lib/nats.js citation
in the client docstrings. No Spark session needed."""

from __future__ import annotations

import pytest

from node_cdc_nats_spark.client import CdcNats, LocalBroker, connect, make_envelope
from node_cdc_nats_spark.sources.nats import (
    BAD_MSG,
    BAD_SUBJECT,
    CONN_CLOSED,
    NatsError,
)


def env(channel: str, body: bytes = b"{}") -> bytes:
    return make_envelope(channel, body)


def test_pattern_fanout_and_wire_topic_quirk():
    # One message fans out to every matching subscription; the wire subject
    # is the transport topic, so the LOGICAL subject only matters inside
    # CDCMsg.channel (lib/nats.js:175).
    broker = LocalBroker()
    nats = connect(broker)
    got: dict[str, list[str]] = {"plus": [], "hash": [], "exact": [], "other": []}
    nats.subscribe("device/+/temp", lambda m: got["plus"].append(m["channel"]))
    nats.subscribe("device/#", lambda m: got["hash"].append(m["channel"]))
    nats.subscribe("device/42/temp", lambda m: got["exact"].append(m["channel"]))
    nats.subscribe("fleet/#", lambda m: got["other"].append(m["channel"]))
    # published "subject" argument is IGNORED for routing:
    nats.publish("totally/unrelated", env("device/42/temp"))
    assert got == {
        "plus": ["device/42/temp"],
        "hash": ["device/42/temp"],
        "exact": ["device/42/temp"],
        "other": [],
    }


def test_inclusive_max_delivers_boundary_row_then_stops():
    # received == max still fires the callback, then the sub is dropped
    # (lib/nats.js:99-107).
    nats = connect()
    seen: list[int] = []
    sid = nats.subscribe("s/#", {"max": 3}, lambda m: seen.append(int(m["payload"])))
    for i in range(5):
        nats.publish("x", env("s/a", str(i).encode()))
    assert seen == [0, 1, 2]
    assert sid not in nats.subs


def test_deferred_unsubscribe_already_satisfied_deletes_immediately():
    # unsubscribe(sid, max) with received >= max deletes at once
    # (lib/nats.js:156-160).
    nats = connect()
    seen: list[dict] = []
    sid = nats.subscribe("s/#", seen.append)
    nats.publish("x", env("s/a"))
    nats.publish("x", env("s/a"))
    assert len(seen) == 2
    nats.unsubscribe(sid, 2)
    assert sid not in nats.subs


def test_closed_connection_raises_conn_closed():
    nats = connect()
    nats.close()
    with pytest.raises(NatsError) as e1:
        nats.subscribe("a/b", lambda m: None)
    assert e1.value.code == CONN_CLOSED  # lib/nats.js:117-119
    with pytest.raises(NatsError) as e2:
        nats.publish("a/b", env("a/b"))
    assert e2.value.code == CONN_CLOSED  # lib/nats.js:164-166


def test_publish_validation_codes():
    nats = connect()
    with pytest.raises(NatsError) as e1:
        nats.publish(123, env("a"))  # type: ignore[arg-type]
    assert e1.value.code == BAD_SUBJECT  # lib/nats.js:167-169
    with pytest.raises(NatsError) as e2:
        nats.publish("a", None)  # type: ignore[arg-type]
    assert e2.value.code == BAD_MSG  # lib/nats.js:170-172


def test_rpc_first_response_wins_and_unsubscribes_all():
    # Two responders race; the first response resolves and the second is
    # never delivered (lib/nats.js:215-225).
    broker = LocalBroker()
    nats = connect(broker)

    def responder(m):
        if m["channel"] == "req/sum":
            # synchronous broker: this answer arrives during publish()
            nats_resp.publish("x", env("res/a", b"first"))
            nats_resp.publish("x", env("res/b", b"second"))

    nats_resp = connect(broker)
    nats_resp.subscribe("req/#", responder)
    result = nats.rpc("req/sum", ["res/a", "res/b"], env("req/sum"), timeout=0.05)
    assert result["payload"] == b"first"
    assert all(s["subject"] not in ("res/a", "res/b") for s in nats.subs.values())


def test_rpc_string_res_subjects_coerced_and_res_process_applied():
    broker = LocalBroker()
    nats = connect(broker)
    nats_resp = connect(broker)
    nats_resp.subscribe(
        "req/#", lambda m: nats_resp.publish("x", env("res/only", b"42"))
    )
    out = nats.rpc(
        "req/q",
        "res/only",  # string, not list (lib/nats.js:210-212)
        env("req/q"),
        timeout=0.05,
        res_process=lambda m: int(m["payload"]),  # lib/nats.js:218-222
    )
    assert out == 42


def test_rpc_timeout_resolves_408_and_cleans_registry():
    nats = connect()
    result = nats.rpc("req/never", ["res/never"], env("req/never"), timeout=0.01)
    assert result == {"code": 408, "message": "request time out"}  # lib/nats.js:242-246
    assert not any(s["subject"] == "res/never" for s in nats.subs.values())


def test_counters_are_per_subscription():
    # received is tracked per ssid, not per client (lib/nats.js:97).
    nats = connect()
    a: list[dict] = []
    b: list[dict] = []
    nats.subscribe("s/#", {"max": 1}, a.append)
    nats.subscribe("s/#", {"max": 2}, b.append)
    for _ in range(3):
        nats.publish("x", env("s/t"))
    assert (len(a), len(b)) == (1, 2)


def test_example_clis_run():
    # The ported reference example CLIs (examples/cdc_pub_sub.py,
    # examples/cdc_rpc.py) must stay runnable — they are the switch-over
    # demonstration for reference users.
    import examples.cdc_pub_sub as pub_sub
    import examples.cdc_rpc as rpc_ex

    assert pub_sub.main() == ["device/7/temp: 21.5", "device/42/temp: 19.0"]
    answer, timed_out = rpc_ex.main()
    assert answer == "pong: ping"
    assert timed_out == {"code": 408, "message": "request time out"}


def test_callback_receives_reference_signature():
    # Reference callbacks get (cdcMsg, subject, sid) (lib/nats.js:109-111);
    # single-parameter Python callbacks get just the message.
    nats = connect()
    triples: list[tuple] = []
    sid = nats.subscribe("a/#", lambda m, subj, s: triples.append((m["channel"], subj, s)))
    nats.publish("x", env("a/b"))
    assert triples == [("a/b", "a/#", sid)]


def test_unsubscribe_after_close_is_silent_noop():
    # The reference's unsubscribe returns on a closed connection — it does
    # not throw (lib/nats.js:147-150).
    nats = connect()
    sid = nats.subscribe("a/#", lambda m: None)
    nats.close()
    nats.unsubscribe(sid)  # must not raise


def test_max_zero_is_unbounded_like_js_falsy():
    # JS `if (max)` is a truthiness check: {max: 0} never arms the bound
    # and the subscription stays live (lib/nats.js:126-141).
    nats = connect()
    seen: list[dict] = []
    sid = nats.subscribe("s/#", {"max": 0}, seen.append)
    for _ in range(3):
        nats.publish("x", env("s/a"))
    assert len(seen) == 3
    assert sid in nats.subs


def test_first_ssid_is_zero():
    # ssid starts at -1 and pre-increments, so the first sid is 0
    # (lib/nats.js:52,130-131).
    nats = connect()
    assert nats.subscribe("a/#", lambda m: None) == 0
    assert nats.subscribe("b/#", lambda m: None) == 1


def test_two_parameter_callback_gets_msg_and_subject():
    # (cdcMsg, subject) is a legal callback shape in the reference — JS
    # simply drops the unused third argument (lib/nats.js:109-111).
    nats = connect()
    pairs: list[tuple] = []
    nats.subscribe("a/#", lambda m, subj: pairs.append((m["channel"], subj)))
    nats.publish("x", env("a/b"))
    assert pairs == [("a/b", "a/#")]


def test_rpc_falsy_timeout_coerces_to_default(monkeypatch):
    # `timeout || 10`: timeout=0 takes the default window instead of an
    # instant 408 (lib/nats.js:238-239). Shrink the default so the test
    # proves the wait actually happens.
    import node_cdc_nats_spark.client as client_mod

    monkeypatch.setattr(client_mod, "RPC_TIMEOUT_S", 0.2)
    broker = LocalBroker()
    nats = connect(broker)
    nats_resp = connect(broker)
    calls = {"n": 0}

    def pump():
        calls["n"] += 1
        if calls["n"] == 3:  # deliver only on the 3rd poll
            nats_resp.publish("x", env("res/late", b"slow"))

    out = nats.rpc("req/q", ["res/late"], env("req/q"), timeout=0, pump=pump)
    assert out["payload"] == b"slow"


def test_rpc_without_pump_waits_for_threaded_delivery():
    # A transport delivering on another thread must win within the window
    # even with no pump — rpc polls `won` until the deadline instead of
    # breaking out immediately.
    import threading

    broker = LocalBroker()
    nats = connect(broker)
    nats_resp = connect(broker)
    t = threading.Timer(0.05, lambda: nats_resp.publish("x", env("res/t", b"bg")))
    t.start()
    try:
        out = nats.rpc("req/q", ["res/t"], env("req/q"), timeout=2)
    finally:
        t.cancel()
    assert out["payload"] == b"bg"


def test_error_constants_and_version_export_parity():
    """Every module-level constant a reference user can import keeps
    importing here (lib/nats.js:15-23 consts, :41-44 exports, :11,46
    version) — including BAD_JSON and INVALID_ENCODING, which are
    defined-but-never-raised in the reference too."""
    from node_cdc_nats_spark import client

    assert client.BAD_SUBJECT == "BAD_SUBJECT"
    assert client.BAD_MSG == "BAD_MSG"
    assert client.CONN_CLOSED == "CONN_CLOSED"
    assert client.BAD_JSON == "BAD_JSON"
    assert client.INVALID_ENCODING == "INVALID_ENCODING"
    assert issubclass(client.NatsError, Exception)
    # exports.version parity: a non-empty dotted version string.
    assert isinstance(client.version, str) and client.version.count(".") == 2


def test_corpus_pipeline_example_runs(spark):
    # The staged corpus-curation walkthrough must stay runnable with
    # pinned fixture counts (sf0.001): each stage is a registered
    # operator, and the fused plan gates the same corpus.
    import examples.corpus_pipeline as cp

    assert cp.main("/root/testdata/sf0.001") == {
        "gated_docs": 500,
        "content_hash_groups": 500,
        "near_dup_pairs": 28,
        "clean_docs": 490,
        "containment_pairs": 367,
        "ppl_bucketed_docs": 500,
        "bpe_merge_candidates": 50,
        "train_val_rows": 500,
        "fused_pipeline_rows": 336,
        "seq_len_buckets": 4,
        "top_collocations": 50,
        "lang_confusion_cells": 10,
        "novelty_batches": 16,
    }


def test_streaming_cdc_example_runs(spark):
    # The r8 streaming-CDC walkthrough stays runnable with pinned fixture
    # counts (sf0.001, expected values computed independently in DuckDB
    # from the ops' own oracles): 15 users in the latest table, 999 of the
    # 1000 versions decided by the final watermark (15 of them inserts),
    # 866 closed hourly buckets, and 210 decided clicks of which only 3
    # find a purchase inside ±10 min — the honest sparse-fixture answer.
    import examples.streaming_cdc as sc

    assert sc.main("/root/testdata/sf0.001") == {
        "latest_rows": 15,
        "diff_decided": 999,
        "diff_inserts": 15,
        "ohlc_buckets": 866,
        "nearest_decided": 210,
        "nearest_matched": 3,
    }


def test_event_analytics_example_runs(spark):
    # The event-analytics walkthrough must stay runnable with pinned
    # fixture counts (sf0.001): 15 of the fixture's users see all three
    # funnel stages in order, the 30-day window spans 5 ISO weeks and 30
    # rolling-active days, and all 5×5 event-type transitions occur.
    import examples.event_analytics as ea

    assert ea.main("/root/testdata/sf0.001") == {
        "sessions": 946,
        "n_signup": 15,
        "n_click_after_signup": 15,
        "n_purchase_after_click": 15,
        "cohort_cells": 5,
        "active_days": 30,
        "transition_pairs": 25,
        "latency_cohorts": 1,
        "cusum_rows": 3600,
        "activity_levels": 13,
        # r7 stages (expected values computed independently in DuckDB):
        # every user's last activity sits inside one horizon week (zero
        # churned at this window size — the honest 30-day-fixture answer),
        # 5 stickiness weeks, 117 clicks resolve to a FORWARD nearest
        # purchase, and 787 updates change the event_type column.
        "churn_weeks": 1,
        "stickiness_weeks": 5,
        "nearest_forward": 117,
        "type_change_updates": 787,
    }


# -- EventEmitter surface (r6; lib/nats.js:71,80-84,102,137,159) -------------


def test_subscribe_emits_sid_subject_opts():
    # lib/nats.js:137 — emit("subscribe", ssid, subject, opts), BEFORE the
    # max bound is armed.
    c = connect()
    seen = []
    c.on("subscribe", lambda sid, subject, opts: seen.append((sid, subject, opts)))
    c.subscribe("a.b")
    c.subscribe("c.+", {"max": 2}, lambda m: None)
    assert seen == [(0, "a.b", None), (1, "c.+", {"max": 2})]


def test_unsubscribe_emits_sid_subject():
    # lib/nats.js:159 — explicit unsubscribe emits (sid, subject); an
    # unknown sid or a closed connection emits nothing.
    c = connect()
    seen = []
    c.on("unsubscribe", lambda sid, subject: seen.append((sid, subject)))
    sid = c.subscribe("x.y")
    c.unsubscribe(sid)
    c.unsubscribe(99)           # no sub — silent, no emit
    assert seen == [(sid, "x.y")]


def test_auto_unsubscribe_at_max_emits():
    # lib/nats.js:99-102 — the inclusive-max boundary delivery drops the
    # sub AND emits ("unsubscribe", sid, subject).
    broker = LocalBroker()
    c = CdcNats(broker)
    events, got = [], []
    c.on("unsubscribe", lambda sid, subject: events.append((sid, subject)))
    sid = c.subscribe("t/#", {"max": 2}, lambda m: got.append(m))
    for _ in range(3):
        broker.publish(c.topic, env("t/x"))
    assert len(got) == 2            # inclusive max
    assert events == [(sid, "t/#")]  # exactly one emit, at the boundary


def test_deferred_unsubscribe_already_satisfied_emits():
    # lib/nats.js:147-161 — arming a bound the counter already meets
    # deletes immediately and emits.
    broker = LocalBroker()
    c = CdcNats(broker)
    events = []
    c.on("unsubscribe", lambda sid, subject: events.append((sid, subject)))
    sid = c.subscribe("t/x", lambda m: None)
    broker.publish(c.topic, env("t/x"))
    c.unsubscribe(sid, 1)  # received == 1 >= max 1
    assert events == [(sid, "t/x")]


def test_rpc_unsubscribes_via_emitting_path():
    # lib/nats.js:185-193 — unsubscribeRpc routes through unsubscribe(),
    # so each response subject emits on win (and on timeout).
    broker = LocalBroker()
    c = CdcNats(broker)
    events = []
    c.on("unsubscribe", lambda sid, subject: events.append(subject))

    resp = CdcNats(broker)

    def responder(m) -> None:
        if m["channel"] == "req/x":
            resp.publish("x", env("res/a", b'{"ok":1}'))

    resp.subscribe("req/#", responder)
    res = c.rpc("req/x", ["res/a", "res/b"], env("req/x"), timeout=0.05)
    assert res["channel"] == "res/a"
    assert sorted(events) == ["res/a", "res/b"]


def test_process_err_emits_error_event():
    # lib/nats.js:82-84 — processErr wraps the message in a NatsError and
    # emits it.
    c = connect()
    caught = []
    c.on("error", lambda e: caught.append(e))
    c.process_err(ValueError("boom"))
    assert len(caught) == 1 and isinstance(caught[0], NatsError)
    assert "boom" in str(caught[0])


def test_unhandled_error_event_raises_like_node():
    c = connect()
    with pytest.raises(NatsError):
        c.process_err("transport down")


def test_close_removes_all_listeners():
    # lib/nats.js:71 — close() calls removeAllListeners(); a reconnected
    # object starts with a clean listener table.
    c = connect()
    c.on("subscribe", lambda *a: (_ for _ in ()).throw(AssertionError))
    c.close()
    assert c.listeners("subscribe") == []


def test_once_and_off():
    c = connect()
    seen = []
    cb = lambda sid, subject, opts: seen.append(sid)  # noqa: E731
    c.once("subscribe", cb)
    c.subscribe("a")
    c.subscribe("b")
    assert seen == [0]
    c.on("subscribe", cb)
    c.off("subscribe", cb)
    c.subscribe("c")
    assert seen == [0]


def test_off_removes_only_last_matching_registration():
    # Node's removeListener removes at most ONE entry per call — the most
    # recently added match — so a double-registered listener fires once
    # after one off() and needs a second off() to go quiet (r6 ADVICE
    # parity item).
    c = connect()
    seen = []
    cb = lambda sid, subject, opts: seen.append(sid)  # noqa: E731
    c.on("subscribe", cb)
    c.on("subscribe", cb)
    c.off("subscribe", cb)
    c.subscribe("a")
    assert seen == [0]
    c.off("subscribe", cb)
    c.subscribe("b")
    assert seen == [0]


def test_off_deletes_the_last_added_position_not_the_first_equal():
    # With [cb, other, cb] registered, Node's backwards scan removes the
    # TRAILING cb, leaving [cb, other] — so cb still fires BEFORE other.
    # list.remove(cb) would delete the leading entry and flip the
    # emission order to [other, cb] (r7 ADVICE item).
    c = connect()
    order = []
    cb = lambda sid, subject, opts: order.append("cb")  # noqa: E731
    other = lambda sid, subject, opts: order.append("other")  # noqa: E731
    c.on("subscribe", cb)
    c.on("subscribe", other)
    c.on("subscribe", cb)
    c.off("subscribe", cb)
    c.subscribe("a")
    assert order == ["cb", "other"]


def test_close_resets_sid_counter_and_subs_like_node():
    # lib/nats.js:72-73 — close() sets ssid = -1 and subs = null; the
    # reset is unconditional, so a second close() is a harmless no-op.
    c = connect()
    c.subscribe("a")
    c.close()
    assert c.ssid == -1
    assert c.subs is None
    c.close()
    assert c.ssid == -1 and c.subs is None


def test_curation_report_example_runs(spark):
    # The r7 curation walkthrough stays runnable with pinned fixture
    # counts (sf0.001, expected values computed independently in DuckDB):
    # 170 docs lean target under the DSIR vote (87 non-en + 83 en — the
    # fixture has no language-token signal, so the split is sampling
    # noise around zero, which is the honest answer), the catalog spans
    # 3 log2 revenue buckets with 187 parts in the A slice, and the 5
    # observed weeks peak at 0.942 avg-DAU/WAU.
    import examples.curation_report as cr

    assert cr.main("/root/testdata/sf0.001") == {
        "dsir_keep": 170,
        "abc_buckets": 3,
        "abc_a_parts": 187,
        "weeks": 5,
        "peak_stickiness_permille": 942,
    }


def test_ingest_layout_example_runs(spark):
    # The r6 ingest/layout walkthrough stays runnable with pinned fixture
    # counts (sf0.001): all 129 docs of the incoming batch survive
    # incremental dedup (the fixture has no cross-batch duplicates), 84
    # docs pass the linear quality gate, the corpus chunks into 1042
    # overlapping segments, and 18 events sit >3 sigma from their type's
    # mean.
    import examples.ingest_layout as il

    assert il.main("/root/testdata/sf0.001") == {
        "batch_docs_kept": 129,
        "quality_keep": 84,
        "chunks": 1042,
        "tfidf_rows": 1500,
        "zorder_rows": 6000,
        "anomalous_events": 18,
    }


def test_media_dedup_example_runs(spark):
    # The r12 media-dedup ladder stays runnable with pinned fixture counts
    # (sf0.001): 500 payloads inventoried; the fixture has no byte-exact
    # or single-asset perceptual duplicates at this scale (both tiers
    # legitimately empty — the oracle agrees), 1501 frames are sampled
    # (n_bytes%5+1 per payload) and 10 clip pairs clear the >=2
    # matching-frame rule.
    import examples.media_dedup as md

    assert md.main("/root/testdata/sf0.001") == {
        "media_assets": 500,
        "byte_exact_groups": 0,
        "perceptual_pairs": 0,
        "sampled_frames": 1501,
        "video_pairs": 10,
    }


def test_graph_quality_example_runs(spark):
    # The r13 graph-quality ladder stays runnable with pinned fixture
    # counts (sf0.001): the 200-part co-purchase graph is ONE dense
    # component that LPA folds into ONE community — whose modularity is
    # exactly 0 (e_c/m = 1 and (d_c/2m)² = 1: the partition captures all
    # edges, but so does random — the score working as designed), and the
    # 80-core legitimately peels to empty (the documented cascade).
    import examples.graph_quality as gq

    assert gq.main("/root/testdata/sf0.001") == {
        "copurchase_nodes": 200,
        "components": 1,
        "lpa_communities": 1,
        "modularity_rows": 1,
        "modularity_q_micro": 0,
        "kcore_nodes": 0,
    }


# -- dispatch through the route table (channel -> matching sids) ---------------
def test_sub_added_in_callback_gets_the_next_message_not_the_current():
    # The registry scan the reference runs per message fixes its sid set
    # when dispatch starts; a sub registered by a callback joins from the
    # next message on (and the cached route for the channel is refreshed).
    nats = connect()
    late: list[bytes] = []

    def first(m):
        if not late and m["payload"] == b"0":
            nats.subscribe("s/#", lambda m2: late.append(m2["payload"]))

    nats.subscribe("s/#", first)
    for i in range(3):
        nats.publish("x", env("s/a", str(i).encode()))
    assert late == [b"1", b"2"]


def test_sub_removed_by_earlier_callback_is_not_delivered():
    nats = connect()
    got: list[str] = []
    sids: list[int] = []

    def remover(m):
        got.append("remover")
        nats.unsubscribe(sids[1])

    sids.append(nats.subscribe("s/#", remover))
    sids.append(nats.subscribe("s/+", lambda m: got.append("victim")))
    nats.publish("x", env("s/a"))  # the route for s/a is filled here
    nats.publish("x", env("s/a"))
    assert got == ["remover", "remover"]


def test_max_stays_inclusive_through_cached_routes():
    nats = connect()
    bounded: list[int] = []
    tap: list[int] = []
    sid = nats.subscribe("s/#", {"max": 3}, lambda m: bounded.append(int(m["payload"])))
    nats.subscribe("s/a", lambda m: tap.append(int(m["payload"])))
    late = nats.subscribe("s/#", lambda m: None)
    for i in range(6):
        if i == 2:
            nats.unsubscribe(late, 1)  # bound armed after the route was cached
        nats.publish("x", env("s/a", str(i).encode()))
    assert bounded == [0, 1, 2]
    assert tap == [0, 1, 2, 3, 4, 5]
    assert sid not in nats.subs and late not in nats.subs


def test_more_channels_than_the_route_cap_still_deliver():
    from node_cdc_nats_spark import client

    nats = connect()
    got: dict[str, list[str]] = {"even": [], "all": []}
    nats.subscribe("c/+/even", lambda m: got["even"].append(m["channel"]))
    nats.subscribe("c/#", lambda m: got["all"].append(m["channel"]))
    channels = [f"c/{i}/{'even' if i % 2 == 0 else 'odd'}" for i in range(client._ROUTE_CAP + 50)]
    for _ in range(2):
        for ch in channels:
            nats.publish("x", env(ch))
    assert len(nats._routes) <= client._ROUTE_CAP
    assert got["all"] == channels * 2
    assert got["even"] == [ch for ch in channels if ch.endswith("even")] * 2


def test_uninspectable_callable_gets_all_three_arguments():
    class Callback:
        __signature__ = "unreadable"  # inspect.signature raises TypeError

        def __init__(self):
            self.calls: list[tuple] = []

        def __call__(self, *args):
            self.calls.append(args)

    nats = connect()
    cb = Callback()
    sid = nats.subscribe("a/#", cb)
    nats.publish("x", env("a/b"))
    assert [(m["channel"], subj, s) for m, subj, s in cb.calls] == [("a/b", "a/#", sid)]
