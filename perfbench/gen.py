"""Seeded input generators.

Everything the engine receives is produced here from an explicit seed; the
engine never sees the seed itself, only the generated envelopes and tables.

CDC envelopes
  * channels: ``site/<s>/dev/<d>/<metric>`` — 10 sites x 60 devices x 5
    metrics = 3000 channels, drawn with Zipf skew (exponent 1.1), so a few
    channels are hot and most are cold. Channel cardinality per batch is
    what the sink's per-batch segment cache keys on, so the skew sets that
    cache's hit rate. Which channel holds which Zipf rank is fixed (its own
    seed), not drawn per run: the hottest channels carry a large share of
    the traffic, so re-ranking them per seed would move the mean fan-out
    between runs (1.27 to 1.73 copies per message over seeds 1-10) and
    with it every per-message cost.
  * payloads: sizes log-uniform in [32 B, 4 KiB]; the first 16 bytes are
    the message id and its due offset (big-endian u64 each), the rest is
    seeded random bytes, so any truncation or byte change is detectable.
  * subscriptions: one fixed set of eight MQTT patterns mixing a literal,
    ``+``, ``#`` and two patterns that never match a generated channel.

Fixture tables
  The batch workload's ten tables (schemas as in the engine's fixture
  contract) come from a fixed seed, so every run and every seed queries the
  same data; the workload seed only orders the queries.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random

SITES, DEVICES = 10, 60
METRICS = ("temp", "power", "humidity", "status", "fault")
ZIPF_EXPONENT = 1.1
RANK_SEED = 7  # fixes which channel holds which Zipf rank
PAYLOAD_MIN, PAYLOAD_MAX = 32, 4096
HEADER = 16  # msg id (u64) + due offset in ns (u64)

# (sub id, pattern). A tap on every channel, single-level '+' and
# multi-level '#' wildcards, one literal, and two patterns no generated
# channel can match (wrong root; unknown metric). Mean fan-out is about 1.36
# copies per message and every message has at least one.
SUBSCRIPTIONS = (
    ("all_sites", "site/#"),
    ("temp_any", "site/+/dev/+/temp"),
    ("fault_any", "site/+/dev/+/fault"),
    ("site2", "site/2/#"),
    ("dev3", "site/+/dev/3/#"),
    ("literal", "site/7/dev/42/power"),
    ("never_root", "ops/alerts/#"),
    ("never_metric", "site/+/dev/+/voltage"),
)


def channels() -> list[str]:
    """The channel vocabulary in rank order (rank 0 is the hottest)."""
    return [
        f"site/{s}/dev/{d}/{m}"
        for s, d, m in itertools.product(range(SITES), range(DEVICES), METRICS)
    ]


class EnvelopeSet:
    """``n`` seeded CDC messages: channel, payload and message id each."""

    def __init__(self, seed: int, n: int):
        rng = random.Random(seed)
        vocab = channels()
        # Shuffle which channel gets which Zipf rank, so hotness is not
        # tied to the site/device numbering the patterns select on.
        random.Random(RANK_SEED).shuffle(vocab)
        cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_EXPONENT for r in range(len(vocab))))
        total = cum[-1]
        lo, hi = PAYLOAD_MIN, PAYLOAD_MAX
        self.channels: list[str] = []
        self.payloads: list[bytes] = []
        for i in range(n):
            ch = vocab[min(bisect.bisect_left(cum, rng.random() * total), len(vocab) - 1)]
            size = int(lo * (hi / lo) ** rng.random())
            self.channels.append(ch)
            self.payloads.append(stamp(i, 0) + rng.randbytes(size - HEADER))

    def __len__(self) -> int:
        return len(self.payloads)

    def restamp(self, due_ns: list[int]) -> None:
        """Write each message's due offset (ns from the run's start) into
        its payload header."""
        self.payloads = [
            stamp(i, due) + p[HEADER:]
            for i, (due, p) in enumerate(zip(due_ns, self.payloads))
        ]


def stamp(msg_id: int, due_ns: int) -> bytes:
    return msg_id.to_bytes(8, "big") + due_ns.to_bytes(8, "big")


def msg_id_of(payload: bytes) -> int:
    return int.from_bytes(payload[:8], "big")


def due_of(payload: bytes) -> int:
    return int.from_bytes(payload[8:HEADER], "big")


# -- fixture tables -------------------------------------------------------------
TABLE_SEED = 20240101
SCALE = 0.001  # lineitem ~6k rows: queries stay bound by per-job overhead
_ADJ = ("small", "red", "blue", "hot", "old", "new", "cold", "green")
_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "spring")
_WORDS = (
    "a the data row column table join hash scan filter sort merge group agg "
    "window stream batch spark query key value order line customer part "
    "vector small big fast slow"
).split()


def write_tables(out_dir: str) -> str:
    """Write the ten fixture tables as parquet under ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(TABLE_SEED)
    scale = SCALE
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users, n_docs, n_vec = max(int(15_000 * scale), 20), 500, 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist())

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    save("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    save("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    save("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    save("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    save("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_line), pa.timestamp("us")),
    })
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = ev_start + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    save("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators' input
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    save("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pick(["en", "fr", "zh", "de", "es"], n_docs, p=[0.44, 0.13, 0.15, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] * 0.3 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    save("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out_dir
