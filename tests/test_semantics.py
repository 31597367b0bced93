"""Reference-semantics unit tests (SURVEY.md §5.2 items 2-3): the
behavioral details of lib/nats.js that must survive the re-expression, plus
the property-based MQTT compiler check.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Window as W, functions as F

from node_cdc_nats_spark import registry
from node_cdc_nats_spark.functions.mqtt import channel_matches, matches, mqtt_to_regex

from .conftest import SF_DIR, SF_DIR_ORACLE

registry.load_all()

# -- MQTT compiler: property-based vs the independent matcher ------------------
seg = st.sampled_from(["a", "b", "cc", "+", "#", "dev1", "+id", "#rest"])
topic_seg = st.sampled_from(["a", "b", "cc", "dev1", "x"])


@settings(max_examples=300, deadline=None)
@given(
    p_segs=st.lists(seg, min_size=1, max_size=4),
    t_segs=st.lists(topic_seg, min_size=1, max_size=5),
)
def test_mqtt_regex_matches_reference_matcher(p_segs, t_segs):
    # '#' is only legal as the last segment; mirror that in generation.
    p_segs = [s if i == len(p_segs) - 1 else s.replace("#", "+") for i, s in enumerate(p_segs)]
    pattern = "/".join(p_segs)
    topic = "/".join(t_segs)
    assert bool(re.fullmatch(mqtt_to_regex(pattern)[1:-1], topic)) == matches(
        pattern, topic
    ), f"pattern={pattern!r} topic={topic!r}"


def test_mqtt_hash_matches_parent_level():
    # mqtt-pattern semantics: 'a/#' matches 'a' itself.
    assert matches("a/#", "a")
    assert re.fullmatch(mqtt_to_regex("a/#"), "a")


def test_mqtt_plus_needs_nonempty_segment():
    assert not matches("a/+", "a/")
    assert not re.fullmatch(mqtt_to_regex("a/+"), "a/")


# -- MQTT named params: the mqtt-pattern dep's extract/fill surface ------------
named_seg = st.sampled_from(["a", "b", "cc", "+", "+id", "+name", "dev1"])


@settings(max_examples=300, deadline=None)
@given(
    p_segs=st.lists(named_seg, min_size=1, max_size=4),
    t_segs=st.lists(topic_seg, min_size=1, max_size=5),
    tail=st.sampled_from(["", "#", "#rest"]),
)
def test_mqtt_extract_fill_roundtrip(p_segs, t_segs, tail):
    # On a matching topic, fill(pattern, extract(pattern, topic))
    # reconstructs the topic — the mqtt-pattern dep's documented law —
    # when every wildcard is named (unnamed ones lose their segment).
    from node_cdc_nats_spark.functions.mqtt import exec_params, fill

    pattern = "/".join(p_segs + ([tail] if tail else []))
    topic = "/".join(t_segs)
    params = exec_params(pattern, topic)
    names = [s[1:] for s in p_segs + [tail] if s[:1] in "+#" and s[1:]]
    if params is None:
        assert not matches(pattern, topic)
    elif all(s not in ("+", "#") for s in p_segs + [tail]) and len(names) == len(
        set(names)
    ):
        # distinct names only: a repeated +name overwrites (last wins) in
        # extract — same as the JS dep — so fill can't reconstruct those.
        assert fill(pattern, params) == topic


@settings(max_examples=200, deadline=None)
@given(
    p_segs=st.lists(named_seg, min_size=1, max_size=3),
    t_segs=st.lists(topic_seg, min_size=1, max_size=4),
    tail=st.sampled_from(["", "#rest"]),
)
def test_mqtt_capture_regex_agrees_with_python_extract(p_segs, t_segs, tail):
    # The regex the Spark column uses, evaluated with `re`, must produce
    # exactly the pure-Python extract on matching topics.
    from node_cdc_nats_spark.functions.mqtt import _capture_regex, extract_params

    pattern = "/".join(p_segs + ([tail] if tail else []))
    topic = "/".join(t_segs)
    if not matches(pattern, topic):
        return
    regex, captures = _capture_regex(pattern)
    m = re.fullmatch(regex[1:-1], topic)
    assert m is not None
    got = {}
    for name, kind, gid in captures:
        raw = m.group(gid) or ""
        got[name] = ([] if raw == "" else raw.split("/")) if kind == "#" else raw
    assert got == extract_params(pattern, topic), f"{pattern=} {topic=}"


def test_mqtt_extract_named_captures():
    from node_cdc_nats_spark.functions.mqtt import extract_params

    assert extract_params("device/+id/+metric", "device/42/temp") == {
        "id": "42",
        "metric": "temp",
    }
    assert extract_params("device/#rest", "device/a/b") == {"rest": ["a", "b"]}
    assert extract_params("device/#rest", "device") == {"rest": []}
    # unnamed wildcards contribute nothing
    assert extract_params("device/+/#", "device/42/a/b") == {}


def test_channel_params_column_matches_python(spark):
    from node_cdc_nats_spark.functions.mqtt import channel_params, extract_params

    topics = ["cdc/click/3", "cdc/error/5/extra", "cdc/purchase"]
    df = spark.createDataFrame([(t,) for t in topics], "channel string")
    rows = df.select(
        "channel", channel_params("channel", "cdc/+etype/#rest").alias("p")
    ).collect()
    for r in rows:
        want = extract_params("cdc/+etype/#rest", r.channel)
        assert r.p.etype == want["etype"]
        assert list(r.p.rest) == want["rest"]


def test_mqtt_literal_pattern_compiles_to_equality(spark):
    # No-wildcard patterns become `=`, which Catalyst can push as an exact
    # parquet filter instead of a regex.
    df = spark.createDataFrame([("a/b",)], "channel string")
    plan = df.filter(channel_matches("channel", "a/b"))._jdf.queryExecution().optimizedPlan().toString()
    assert "rlike" not in plan.lower()


# -- bounded subscription: inclusive max (lib/nats.js:99-107) ------------------
def test_bounded_subscription_inclusive_max(spark):
    # The delivery where the counter REACHES max is still delivered; later
    # rows are dropped. With max=3 and 5 matching messages, deliveries are
    # exactly 1,2,3.
    rows = [(i, f"cdc/x/{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "event_id long, channel string")
    w = W.partitionBy(F.lit(1)).orderBy("event_id")
    delivered = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    )
    got = [r.rn for r in delivered.orderBy("event_id").collect()]
    assert got == [1, 2, 3]


def test_bounded_subscription_operator_respects_max(spark):
    out = registry.QUERIES["bounded_subscription"](spark, SF_DIR)
    per_sub = {
        r.sub_id: r.mx for r in out.groupBy("sub_id").agg(F.max("delivery_no").alias("mx")).collect()
    }
    # s2 max=500, s3 max=100 (operators/cdc.py SUBSCRIPTIONS); neither may
    # exceed its bound, and delivery numbers must be dense from 1.
    assert per_sub.get("s2", 0) <= 500 and per_sub.get("s3", 0) <= 100
    mins = {
        r.sub_id: r.mn for r in out.groupBy("sub_id").agg(F.min("delivery_no").alias("mn")).collect()
    }
    assert all(v == 1 for v in mins.values())


# -- RPC: timeout RESOLVES with 408, never rejects (lib/nats.js:238-247) -------
def test_rpc_timeout_resolves_408(spark):
    out = registry.QUERIES["rpc_first_response"](spark, SF_DIR)
    codes = {r.code for r in out.select("code").distinct().collect()}
    assert codes <= {200, 408} and 408 in codes
    # 408 rows carry no response id; 200 rows always do.
    assert out.filter((F.col("code") == 408) & F.col("resp_id").isNotNull()).count() == 0
    assert out.filter((F.col("code") == 200) & F.col("resp_id").isNull()).count() == 0
    # Exactly one resolution per request (first-wins, lib/nats.js:216-223).
    assert out.groupBy("req_id").count().filter("count > 1").count() == 0


def test_stream_cdc_column_diff_is_batch_restricted_to_watermark(spark):
    # The streaming diff must agree row-for-row with the batch op on every
    # version it decides, and decide exactly the versions the final
    # watermark reached — stream-merged state == batch recompute, the CDC
    # guarantee stream_upsert pins for the latest-table.
    from node_cdc_nats_spark.io import load_table

    batch = {
        r.event_id: (r.user_id, r.op, r.changed_cols, r.n_changed, r.value_delta)
        for r in registry.QUERIES["cdc_column_diff"](spark, SF_DIR).collect()
    }
    stream = {
        r.event_id: (r.user_id, r.op, r.changed_cols, r.n_changed, r.value_delta)
        for r in registry.QUERIES["stream_cdc_column_diff"](spark, SF_DIR).collect()
    }
    assert stream and set(stream) < set(batch)
    for eid, row in stream.items():
        assert row == batch[eid], eid
    # The undecided remainder is exactly the watermark tail: versions with
    # ts above (max ts - 30 min).
    ev = load_table(spark, SF_DIR, "events")
    mx = ev.agg(F.max("ts")).first()[0]
    import datetime

    cutoff = mx - datetime.timedelta(minutes=30)
    n_decided = ev.filter(F.col("ts") <= F.lit(cutoff)).count()
    assert len(stream) == n_decided


def test_stream_asof_nearest_agrees_with_batch_within_tolerance(spark):
    # Where the batch op's (unbounded) nearest purchase lies within the
    # streaming contract's ±10 min, the decided streaming row must pick
    # the SAME purchase with the SAME direction; where it lies outside,
    # the streaming row must be a no-match. Ties (backward wins) are
    # covered because both sides implement the same rule over the same
    # fixture.
    import datetime

    batch = {
        r.event_id: r
        for r in registry.QUERIES["join_asof_nearest"](spark, SF_DIR).collect()
    }
    stream = registry.QUERIES["stream_join_asof_nearest"](spark, SF_DIR).collect()
    assert stream
    tol = datetime.timedelta(minutes=10)
    n_matched = n_unmatched = 0
    for s in stream:
        b = batch[s.event_id]
        if b.nearest_purchase_ts is not None and abs(b.nearest_purchase_ts - b.ts) <= tol:
            assert s.nearest_purchase_id == b.nearest_purchase_id, s.event_id
            assert s.direction == b.direction, s.event_id
            n_matched += 1
        else:
            assert s.nearest_purchase_id is None and s.direction is None, s.event_id
            n_unmatched += 1
    # the fixture exercises both outcomes
    assert n_matched > 0 and n_unmatched > 0


def test_stream_ohlc_is_batch_restricted_to_closed_buckets(spark):
    # Every emitted bucket must equal the batch rollup's row exactly, and
    # the emitted set is exactly the buckets whose end the final watermark
    # passed.
    batch = {
        (r.event_type, r.bucket): (r.open, r.high, r.low, r.close, r.n_events, r.vsum)
        for r in registry.QUERIES["downsample_ohlc"](spark, SF_DIR).collect()
    }
    stream = {
        (r.event_type, r.bucket): (r.open, r.high, r.low, r.close, r.n_events, r.vsum)
        for r in registry.QUERIES["stream_downsample_ohlc"](spark, SF_DIR).collect()
    }
    assert stream and set(stream) < set(batch)
    for k, v in stream.items():
        assert v == batch[k], k
    # the undecided remainder is the watermark tail
    import datetime

    from node_cdc_nats_spark.io import load_table

    mx = load_table(spark, SF_DIR, "events").agg(F.max("ts")).first()[0]
    wm = mx - datetime.timedelta(minutes=30)
    open_buckets = {
        k for k in batch if k[1] + datetime.timedelta(hours=1) > wm
    }
    assert set(batch) - set(stream) == open_buckets


def test_stream_rpc_subset_of_batch(spark):
    # The streaming decision set is the batch result restricted to requests
    # whose deadline the final watermark passed — never contradictory.
    batch = registry.QUERIES["rpc_first_response"](spark, SF_DIR)
    stream = registry.QUERIES["stream_rpc_state"](spark, SF_DIR)
    b = {(r.req_id, r.resp_id, r.code) for r in batch.collect()}
    s = {(r.req_id, r.resp_id, r.code) for r in stream.collect()}
    assert s <= b
    assert len(s) > 0


# -- IVF ANN: recall floors vs exact search. Both variants are registered
# and driver-hash-checked (r10 graduated the learned one by quantizing the
# Lloyd means to integer micro-units, making the iteration deterministic
# and SQL-expressible); this test additionally gates QUALITY — an
# oracle-identical wrong-recall index would still fail here.
def test_ivf_recall_vs_exact(spark):
    exact = {
        (r.qid, r.cid)
        for r in registry.QUERIES["sim_topk"](spark, SF_DIR).collect()
    }
    for name in ("ann_ivf_topk", "ann_ivf_learned"):
        variant = registry.QUERIES[name]
        approx = {(r.qid, r.cid) for r in variant(spark, SF_DIR).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6, f"IVF recall {recall:.2f} below floor ({name})"


# -- Lloyd trainer dirty-input semantics (r14, VERDICT r13 item 3): the
# fused mapInPandas stats pass must SKIP null/empty embedding rows — the
# pre-r13 posexplode plan did so implicitly (Catalyst derived
# size(embedding) > 0 AND isnotnull at the scan) and the rewrite must not
# turn that skip into a stage crash — while a non-finite ELEMENT inside a
# well-formed vector fails loudly (ADVICE r13: a NaN would otherwise wrap
# silently in the int64 quantization and corrupt the centroid sums).
def test_lloyd_null_embedding_rows_are_skipped(spark):
    from node_cdc_nats_spark.operators.similarity import (
        IVF_K,
        _lloyd_centroids,
    )

    dim = 4
    clean_rows = [
        (i, [float(i % 7) + 0.25 * j for j in range(dim)])
        for i in range(IVF_K + 8)
    ]
    # Dirty rows past the init window, and inside it: vec_ids -2 and -1
    # sort before every clean row, so they are among the lowest IVF_K.
    dirty_rows = clean_rows + [(1000, None), (1001, []), (-2, None), (-1, [])]
    schema = "vec_id bigint, embedding array<double>"
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(dirty_rows, schema)
    assert _lloyd_centroids(dirty, "test") == _lloyd_centroids(clean, "test")


def test_lloyd_nonfinite_embedding_element_fails_loudly(spark):
    from node_cdc_nats_spark.operators.similarity import (
        IVF_K,
        _lloyd_centroids,
    )

    dim = 4
    rows = [
        (i, [float(i % 7) + 0.25 * j for j in range(dim)])
        for i in range(IVF_K + 8)
    ]
    rows.append((1000, [float("nan")] * dim))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    with pytest.raises(Exception, match="non-finite embedding"):
        _lloyd_centroids(df, "test")


# -- approx distinct: the r3 hash-verifiable shape — exact counts match a
# recomputation and every HLL error gate holds (the oracle asserts the
# same gates as literal `true`).
def test_approx_distinct_within_tolerance(spark):
    from node_cdc_nats_spark.io import load_table

    rows = registry.QUERIES["agg_approx_distinct"](spark, SF_DIR).collect()
    got = {r.l_returnflag: (r.exact_parts, r.exact_orders) for r in rows}
    li = load_table(spark, SF_DIR, "lineitem")
    exact = {
        r.l_returnflag: (r.p, r.o)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("p"),
            F.countDistinct("l_orderkey").alias("o"),
        )
        .collect()
    }
    assert got == exact
    for r in rows:
        assert r.parts_within_10pct and r.orders_within_10pct, r


# -- resProcess winner-transform hook (lib/nats.js:218-222) --------------------
def test_stream_rpc_res_process_transforms_winners_only(spark):
    """The streaming RPC's res_process hook runs on decided winners (code
    200) at resolution time and never on 408 timeouts — same contract as
    the reference's options.resProcess, which only runs on a received
    response."""
    from node_cdc_nats_spark.streaming.rpc import stream_rpc_state

    plain = {r.req_id: r for r in registry.QUERIES["stream_rpc_state"](spark, SF_DIR).collect()}

    def mark(winners):  # pandas DataFrame of code-200 decisions
        winners["code"] = 299
        return winners

    hooked = {
        r.req_id: r
        for r in stream_rpc_state(spark, SF_DIR, res_process=mark).collect()
    }
    assert hooked.keys() == plain.keys()
    assert any(p.code == 200 for p in plain.values())  # fixture has winners
    for rid, p in plain.items():
        h = hooked[rid]
        assert h.resp_id == p.resp_id
        assert h.code == (299 if p.code == 200 else 408)


def test_batch_rpc_res_process_missing_rows_null(spark):
    # The processed batch variant: result = 2*value for winners, null on 408.
    out = registry.QUERIES["rpc_first_response_processed"](spark, SF_DIR).collect()
    assert any(r.code == 200 for r in out)
    for r in out:
        if r.code == 408:
            assert r.result is None
        else:
            assert r.result is not None


# -- approx quantiles: the r3 hash-verifiable shape — exact percentiles
# match agg_quantiles' and every GK error gate holds (the oracle asserts
# the same gates as literal `true`).
def test_approx_quantiles_within_tolerance(spark):
    rows = registry.QUERIES["agg_approx_quantiles"](spark, SF_DIR_ORACLE).collect()
    got = {r["event_type"]: (r["p50_exact"], r["p90_exact"]) for r in rows}
    exact = {
        r["event_type"]: (r["p50"], r["p90"])
        for r in registry.QUERIES["agg_quantiles"](spark, SF_DIR_ORACLE).collect()
    }
    assert got == exact
    for r in rows:
        assert r["p50_within_5pct"] and r["p90_within_5pct"], r


def test_sink_compacted_file_count(spark, tmp_path):
    # The compaction op's whole point: fragmented layout in, exactly-N
    # sized files out, values untouched (value equality is the oracle's
    # job; the layout claim is checked here).
    import glob

    from node_cdc_nats_spark.io import load_table

    ev = load_table(spark, SF_DIR_ORACLE, "events")
    frag = str(tmp_path / "frag")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    assert len(glob.glob(f"{frag}/part-*.parquet")) == 64
    compact = str(tmp_path / "compact")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    assert len(glob.glob(f"{compact}/part-*.parquet")) == 4
    assert spark.read.parquet(compact).count() == ev.count()


@given(st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=50, deadline=None)
def test_train_val_split_is_content_addressed_partition(doc_id):
    # The split must be a pure function of the key and a true partition:
    # one bucket in [0,16), exactly one of train/val/test, stable across
    # calls — no RNG, no coordination (the property that lets backfills
    # and multi-cluster jobs agree).
    import hashlib

    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[0], 16)
    split = "train" if h < 13 else ("val" if h < 15 else "test")
    assert 0 <= h < 16
    assert split in ("train", "val", "test")
    h2 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[0], 16)
    assert h2 == h


def test_upsert_merge_replay_idempotent(spark):
    # The exactly-once claim for the foreachBatch upsert sink rests on
    # newest-wins being idempotent under batch replay: applying the same
    # micro-batch twice must leave the target identical.
    from node_cdc_nats_spark.io import load_table
    from node_cdc_nats_spark.streaming.upsert import merge_latest

    ev = load_table(spark, SF_DIR_ORACLE, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    batch1 = ev.filter(F.col("event_id") % 3 == 0)
    batch2 = ev.filter(F.col("event_id") % 3 == 1)
    once = merge_latest(merge_latest(None, batch1), batch2)
    replayed = merge_latest(once, batch2)  # checkpoint replay of batch2
    assert once.exceptAll(replayed).count() == 0
    assert replayed.exceptAll(once).count() == 0


# -- perplexity_bucket: tercile bucketing semantics ----------------------------
def test_perplexity_bucket_semantics(spark):
    rows = registry.QUERIES["perplexity_bucket"](spark, SF_DIR).collect()
    # Every document with >= 1 normalized token gets exactly one row.
    assert len(rows) > 0
    assert len({r.doc_id for r in rows}) == len(rows)
    by_lang: dict[str, list] = {}
    for r in rows:
        assert r.ppl_bucket in ("head", "middle", "tail", "unsampled")
        assert r.n_tokens >= 1
        assert r.mean_surprisal >= 0.0
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        buckets = {r.ppl_bucket for r in rs}
        if buckets == {"unsampled"}:
            continue  # lang absent from the 1/16 cutoff sample
        assert "unsampled" not in buckets, lang
        # Bucket assignment must be monotone in mean_surprisal: every head
        # score <= every middle score <= every tail score (cutoff ties may
        # straddle, hence <=).
        order = {"head": 0, "middle": 1, "tail": 2}
        top = {b: max(r.mean_surprisal for r in rs if r.ppl_bucket == b)
               for b in buckets}
        bot = {b: min(r.mean_surprisal for r in rs if r.ppl_bucket == b)
               for b in buckets}
        for a in buckets:
            for b in buckets:
                if order[a] < order[b]:
                    assert top[a] <= bot[b], (lang, a, b)
        # Cutoffs estimated from a 1/16 sample: terciles are approximate,
        # but no single bucket may swallow (nearly) the whole language.
        if len(rs) >= 30 and len(buckets) == 3:
            for b in buckets:
                frac = sum(1 for r in rs if r.ppl_bucket == b) / len(rs)
                assert frac < 0.9, (lang, b, frac)


# -- decontaminate_containment: overlap-fraction semantics ---------------------
def test_decontaminate_containment_semantics(spark):
    rows = registry.QUERIES["decontaminate_containment"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert len({(r.train_doc_id, r.bench_doc_id) for r in rows}) == len(rows)
    for r in rows:
        # Pair sides come from disjoint splits (every 50th doc is benchmark).
        assert r.bench_doc_id % 50 == 0
        assert r.train_doc_id % 50 != 0
        assert 1 <= r.shared_ngrams <= r.bench_ngrams
        assert abs(r.containment - r.shared_ngrams / r.bench_ngrams) < 1e-12
        assert r.contaminated == (r.containment >= 0.5)
    # The fixture corpus contains at least one genuine leak (an exact
    # duplicate straddling the split) and plenty of sub-threshold noise.
    assert any(r.contaminated for r in rows)
    assert any(not r.contaminated for r in rows)


# -- bpe_pair_stats: first-merge ranking semantics -----------------------------
def test_bpe_pair_stats_semantics(spark):
    rows = registry.QUERIES["bpe_pair_stats"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    # Returned in ranked order: counts non-increasing, pair asc on ties.
    for a, b in zip(rows, rows[1:]):
        assert a.pair_count > b.pair_count or (
            a.pair_count == b.pair_count and a.pair < b.pair
        ), (a, b)
    for r in rows:
        assert len(r.pair) == 2
        # A pair occurs at least once in every token type counted for it.
        assert r.pair_count >= r.n_token_types >= 1


# -- stream_scd2: merge semantics ----------------------------------------------
def test_scd2_merge_replay_idempotent_and_splices_late_rows(spark):
    # The exactly-once claim for the foreachBatch SCD2 sink rests on the
    # merge being idempotent under batch replay, and correctness under
    # out-of-order delivery rests on the merge replaying the affected
    # user's FULL history (a late change must splice into the middle of
    # the intervals, not append).
    from node_cdc_nats_spark.io import load_table
    from node_cdc_nats_spark.streaming.upsert import merge_scd2

    ev = load_table(spark, SF_DIR_ORACLE, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    ).select("user_id", "event_id", "value", "ts")
    batch1 = ev.filter(F.col("event_id") % 3 == 0)
    batch2 = ev.filter(F.col("event_id") % 3 == 1)
    batch3 = ev.filter(F.col("event_id") % 3 == 2)
    # localCheckpoint between merges exactly as the foreachBatch sink does:
    # the merge self-joins the running target against rows sharing its own
    # lineage, which needs the between-batch lineage break to resolve.
    once = merge_scd2(None, batch1).localCheckpoint(eager=True)
    once = merge_scd2(once, batch2).localCheckpoint(eager=True)
    once = merge_scd2(once, batch3).localCheckpoint(eager=True)
    replayed = merge_scd2(once, batch2)  # checkpoint replay of batch2
    assert once.exceptAll(replayed).count() == 0
    assert replayed.exceptAll(once).count() == 0
    # Arrival order must not matter: the event_id%3 split interleaves each
    # user's timeline across batches, so batch3's rows land BETWEEN rows
    # already merged — the final table must still equal the batch recompute.
    batch_view = registry.QUERIES["cdc_scd2"](spark, SF_DIR_ORACLE)
    stream_view = once.withColumn(
        "valid_from", F.col("valid_from").cast("timestamp_ntz")
    ).withColumn("valid_to", F.col("valid_to").cast("timestamp_ntz"))
    assert batch_view.exceptAll(stream_view).count() == 0
    assert stream_view.exceptAll(batch_view).count() == 0


# -- dedup_span: rewrite semantics ----------------------------------------------
def test_dedup_span_rewrite_semantics(spark):
    rows = {r.doc_id: r for r in registry.QUERIES["dedup_span"](spark, SF_DIR).collect()}
    assert len(rows) > 0
    total_spans = sum(r.n_spans for r in rows.values())
    total_kept = sum(r.n_kept for r in rows.values())
    # The fixture contains repeated spans (duplicate docs), so some spans
    # must be removed — and the first occurrence of every distinct span is
    # always kept, so kept > 0.
    assert 0 < total_kept < total_spans
    for r in rows.values():
        assert 0 <= r.n_kept <= r.n_spans
        # clean_text word count == 10 * full kept spans minus the short
        # tail; cheap invariant: kept==0 implies empty rewrite, kept>0
        # implies non-empty.
        assert (r.n_kept == 0) == (r.clean_text == "")
    # Corpus-wide: every distinct span survives exactly once.
    from node_cdc_nats_spark.operators.dedup import SPAN_TOKENS
    from node_cdc_nats_spark.operators.text import NORM_SPARK_SQL
    from node_cdc_nats_spark.io import load_table

    toks = (
        load_table(spark, SF_DIR, "documents")
        .select(F.split(F.expr(NORM_SPARK_SQL), " ").alias("t"))
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(t)/{SPAN_TOKENS}.0) as int) - 1),"
                    f" i -> concat_ws(' ', slice(t, i*{SPAN_TOKENS}+1, {SPAN_TOKENS})))"
                )
            ).alias("chunk")
        )
    )
    assert toks.distinct().count() == total_kept


def test_agg_corr_zero_variance_group_is_null_on_both_engines(spark, tmp_path):
    # ADVICE r5: a constant-x group makes the corr denominator zero —
    # Spark's raw formula gives NaN (0/0) while DuckDB NULLs the division
    # and can even raise on SQRT of a rounding-induced negative. The
    # guarded formula must return NULL on BOTH engines.
    import duckdb
    import pandas as pd

    from node_cdc_nats_spark.operators.relational import agg_corr
    from node_cdc_nats_spark.registry import ORACLES

    rows = pd.DataFrame(
        {
            "l_returnflag": ["A"] * 4 + ["B"] * 4,
            "l_quantity": [7.0] * 4 + [1.0, 2.0, 3.0, 4.0],  # A: zero variance
            "l_extendedprice": [10.0, 20.0, 30.0, 40.0] * 2,
        }
    )
    sf = str(tmp_path)
    rows.to_parquet(f"{sf}/lineitem.parquet")
    out = {r["l_returnflag"]: r.asDict() for r in agg_corr(spark, sf).collect()}
    assert out["A"]["corr_qty_price"] is None
    assert abs(out["B"]["corr_qty_price"] - 1.0) < 1e-12  # y = 10x exactly

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')"
    )
    drows = {r[0]: r for r in con.execute(ORACLES["agg_corr"]).fetchall()}
    con.close()
    assert drows["A"][2] is None
    assert out["B"]["corr_qty_price"] == drows["B"][2]  # bit-identical


def test_rank_cells_udf_matches_sql_fold_bitexactly(spark):
    """The Arrow cell-ranking udf (r11) must reproduce the SQL
    aggregate(zip_with(...)) left fold BIT-exactly — same IEEE add order
    per dim, same (d2, cell) tiebreak — on adversarial float32 vectors
    (denormal-ish magnitudes, exact ties via duplicated centroids)."""
    import random

    from pyspark.sql import functions as F

    from node_cdc_nats_spark.operators.similarity import _rank_cells_udf

    rng = random.Random(11)
    dim, k, n = 16, 6, 40
    cents = [[rng.uniform(-2, 2) for _ in range(dim)] for _ in range(k)]
    cents[3] = list(cents[1])  # exact duplicate centroid: forces d2 ties
    rows = []
    for i in range(n):
        v = [rng.uniform(-2, 2) * (10 ** rng.randint(-4, 3)) for _ in range(dim)]
        rows.append((i, v))
    rows.append((n, list(cents[1])))  # sits exactly ON the tied centroids
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def d2_sql(c):
        lits = ",".join(repr(v) + "D" for v in cents[c])
        return (
            f"aggregate(zip_with(embedding, array({lits}), "
            f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"0.0D, (acc, x) -> acc + x)"
        )

    structs = F.expr(
        "array("
        + ",".join(
            f"named_struct('d2', {d2_sql(c)}, 'cell', {c})" for c in range(k)
        )
        + ")"
    )
    want = {
        r.vec_id: [s.cell for s in r.rk]
        for r in df.select("vec_id", F.array_sort(structs).alias("rk")).collect()
    }
    got = {
        r.vec_id: list(r.rk)
        for r in df.select(
            "vec_id", _rank_cells_udf(cents)(F.col("embedding")).alias("rk")
        ).collect()
    }
    assert got == want  # full ranking, every row, ties included
    # the tied pair must order (1, 3) — lowest cell first
    full = got[n]
    assert full.index(1) < full.index(3)
