from perfbench import gen
from perfbench.checks import check_deliveries, check_rows, expected_deliveries


def _setup(n=200):
    envs = gen.EnvelopeSet(7, n)
    expected = expected_deliveries(envs.channels)
    got = [(sid, envs.payloads[mid]) for (sid, mid) in expected]
    return envs, expected, got


def test_exact_delivery_passes():
    envs, expected, got = _setup()
    assert check_deliveries(expected, got, envs.payloads) == (0, [])


def test_lost_message_fails():
    envs, expected, got = _setup()
    failed, problems = check_deliveries(expected, got[1:], envs.payloads)
    assert failed == 1 and "lost" in problems[0]


def test_duplicated_message_fails():
    envs, expected, got = _setup()
    failed, problems = check_deliveries(expected, got + [got[3]], envs.payloads)
    assert failed == 1 and "duplicated" in problems[0]


def test_altered_payload_fails():
    envs, expected, got = _setup()
    sid, p = got[5]
    bad = got[:5] + [(sid, p[:-1] + bytes([p[-1] ^ 1]))] + got[6:]
    failed, problems = check_deliveries(expected, bad, envs.payloads)
    # the altered copy is rejected, so its (sub, msg) pair is also lost
    assert failed == 2 and any("altered" in x for x in problems)


def test_delivery_to_a_non_matching_subscription_fails():
    envs, expected, got = _setup()
    sid, p = got[0]
    wrong = "never_root"
    failed, problems = check_deliveries(expected, got + [(wrong, p)], envs.payloads)
    assert failed == 1 and "unexpected" in problems[0]


def test_expected_set_uses_mqtt_semantics():
    envs = gen.EnvelopeSet(1, 500)
    expected = expected_deliveries(envs.channels)
    by_msg = {}
    for sid, mid in expected:
        by_msg.setdefault(mid, set()).add(sid)
    assert set(by_msg) == set(range(500))  # 'site/#' taps every message
    assert not any({"never_root", "never_metric"} & subs for subs in by_msg.values())
    for mid, subs in by_msg.items():
        ch = envs.channels[mid]
        assert ("site2" in subs) == ch.startswith("site/2/")
        assert ("temp_any" in subs) == ch.endswith("/temp")


def test_query_rows_pass_and_a_wrong_row_fails():
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None), (3, 7.0)]
    oracle = [(3, 7.0), (1, 2.5), (2, None)]  # order-insensitive
    assert check_rows("q", cols, rows, cols, oracle) == []
    wrong = [(1, 2.5), (2, None), (3, 7.000001)]
    assert check_rows("q", cols, wrong, cols, oracle)
    assert check_rows("q", cols, rows[:2], cols, oracle)
    assert check_rows("q", cols, rows, ["k", "w"], oracle)
