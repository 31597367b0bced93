from perfbench import gen
from node_cdc_nats_spark.functions.mqtt import matches


def test_same_seed_same_inputs_other_seed_differs():
    a, b, c = gen.EnvelopeSet(3, 300), gen.EnvelopeSet(3, 300), gen.EnvelopeSet(4, 300)
    assert a.channels == b.channels and a.payloads == b.payloads
    assert a.payloads != c.payloads


def test_payload_sizes_and_stamps():
    envs = gen.EnvelopeSet(1, 2000)
    sizes = [len(p) for p in envs.payloads]
    assert min(sizes) >= gen.PAYLOAD_MIN and max(sizes) <= gen.PAYLOAD_MAX
    assert max(sizes) > 2048 and min(sizes) < 64  # log-uniform spans the range
    assert [gen.msg_id_of(p) for p in envs.payloads] == list(range(2000))
    envs.restamp([i * 1000 for i in range(2000)])
    assert gen.due_of(envs.payloads[7]) == 7000 and gen.msg_id_of(envs.payloads[7]) == 7


def test_channel_skew_and_cardinality():
    envs = gen.EnvelopeSet(2, 20000)
    counts = {}
    for ch in envs.channels:
        counts[ch] = counts.get(ch, 0) + 1
    top = sorted(counts.values(), reverse=True)
    assert len(gen.channels()) == 3000
    assert top[0] > 50 * top[len(top) // 2]  # Zipf: a few hot channels


def test_subscription_set_mixes_pattern_kinds():
    pats = [p for _, p in gen.SUBSCRIPTIONS]
    assert any("+" not in p and "#" not in p for p in pats)
    assert any("+" in p for p in pats) and any(p.endswith("#") for p in pats)
    vocab = gen.channels()
    never = [p for p in pats if not any(matches(p, ch) for ch in vocab)]
    assert len(never) == 2


def test_fan_out_does_not_depend_on_the_seed():
    # Channel ranks are fixed, so seeds differ in the message sequence only,
    # not in which channels (and how many copies per message) are hot.
    from perfbench.checks import expected_deliveries

    fan = [sum(expected_deliveries(gen.EnvelopeSet(s, 5000).channels).values()) / 5000 for s in range(1, 6)]
    assert max(fan) - min(fan) < 0.05
