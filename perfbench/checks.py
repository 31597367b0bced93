"""Output checks. Each returns a list of failure descriptions (empty means
correct); every entry counts once in the run's ``failed``."""

from __future__ import annotations

from collections import Counter

from node_cdc_nats_spark.functions.mqtt import matches

from .gen import SUBSCRIPTIONS, msg_id_of


def expected_deliveries(channels) -> Counter:
    """(sub id, msg id) -> 1 for every subscription whose pattern matches
    the message's channel, by the engine's pure-Python MQTT matcher."""
    memo: dict[str, list[str]] = {}
    out: Counter = Counter()
    for msg_id, ch in enumerate(channels):
        subs = memo.get(ch)
        if subs is None:
            subs = memo[ch] = [sid for sid, pat in SUBSCRIPTIONS if matches(pat, ch)]
        for sid in subs:
            out[(sid, msg_id)] = 1
    return out


def check_deliveries(expected: Counter, got, payloads, limit: int = 5):
    """``got`` yields (sub id, payload bytes) per delivered copy. Each
    expected (sub, msg) pair must arrive exactly once with the generated
    bytes. Returns (failures, problems): each lost, duplicated, altered or
    unexpected copy counts one failure."""
    seen: Counter = Counter()
    altered = 0
    for sid, payload in got:
        mid = msg_id_of(payload)
        if not (0 <= mid < len(payloads) and payloads[mid] == payload):
            altered += 1
            continue
        seen[(sid, mid)] += 1
    lost = sum(1 for k in expected if seen[k] == 0)
    dup = sum(n - 1 for k, n in seen.items() if n > 1 and k in expected)
    unexpected = sum(n for k, n in seen.items() if k not in expected)
    problems = []
    for what, n in (("lost", lost), ("duplicated", dup), ("altered", altered), ("unexpected", unexpected)):
        if n:
            problems.append(f"{n} {what} deliveries")
    return lost + dup + altered + unexpected, problems[:limit]


def check_rows(name: str, cols, rows, oracle_cols, oracle_rows) -> list[str]:
    """A query result against its DuckDB oracle: same column names, same row
    count, and equal row multisets under the canonicalisation of
    ``tests/oracle_diff.py`` (imported, so both stay one definition)."""
    from tests.oracle_diff import _rowset

    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns differ {sorted(cols)} vs {sorted(oracle_cols)}"]
    problems = []
    if len(rows) != len(oracle_rows):
        problems.append(f"{name}: {len(rows)} rows, oracle has {len(oracle_rows)}")
    if _rowset(cols, rows) != _rowset(oracle_cols, oracle_rows):
        problems.append(f"{name}: row values differ from the oracle")
    return problems
