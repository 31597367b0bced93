"""Query/oracle registry backing the driver contract in ``__spark_entry__.py``.

Every operator from SURVEY.md §2.2 registers here: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the equivalent
DuckDB oracle SQL. The driver compares row count + schema + order-insensitive
value hash, so every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
_REGISTERED: list[str] = []  # registration order; load_all reorders QUERIES


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL over the driver's
    pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings). Omit ``oracle`` for ops that are
    not SQL-expressible (driver then records a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        _REGISTERED.append(name)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Ops whose code or oracle changed since the newest CORRECTNESS_r*.json:
# their last green verified a different definition, so they take the first
# slots of the driver's budgeted walk. Hand-edited; empty it once a walk
# has re-verified them.
_VERIFY_HEAD = (
    "graph_connected_components", "graph_k_core", "graph_label_propagation",
    "graph_modularity", "dedup_clusters", "ann_ivf_learned",
    "embed_dedup_semantic", "nats_roundtrip", "cdc_encode_decode",
    "retention_cohorts", "stream_retention_cohorts", "fanout_dispatch",
    "bounded_subscription", "stream_bounded_subscription", "channel_params",
    "stream_ab_lift", "stream_anomaly_zscore", "stream_join_asof_nearest",
    "stream_cdc_column_diff", "stream_funnel", "stream_dedup_incremental",
    "stream_stream_join", "stream_stream_left_join", "stream_downsample_ohlc",
    "stream_rpc_state", "stream_topk", "stream_upsert", "stream_scd2",
    "stream_tumble", "stream_slide", "stream_session", "stream_watermark",
    "stream_dedup", "scan_stream", "sink_memory",
)

# The driver's evidence files sit at the repository root, next to the package.
_EVIDENCE_DIR = Path(__file__).resolve().parent.parent
_GREEN = ("rows_match", "schema_match", "hash_match")


def _newest_green() -> dict[str, int]:
    """Round of each op's newest evidence row, or 0 when that row is not
    green. Ops absent from every file are absent here too."""
    newest: dict[str, tuple[int, bool]] = {}
    for path in _EVIDENCE_DIR.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.rpartition("_r")[2])
        for name, row in json.loads(path.read_text()).items():
            if rnd > newest.get(name, (0, False))[0]:
                newest[name] = (rnd, all(row.get(k) is True for k in _GREEN))
    return {name: rnd if green else 0 for name, (rnd, green) in newest.items()}


def load_all() -> None:
    """Import every operator module so registrations run, then order the
    registry for the driver's budgeted walk (50 verification slots per
    round): ``_VERIFY_HEAD`` first, then every other op oldest evidence
    first. An op with no evidence row, or whose newest row is not green,
    leads that tail; ties keep registration order, which is also the whole
    tail's order when no evidence file is present."""
    from .operators import (  # noqa: F401
        dedup, similarity, text, multimodal, udfs, sinks, asof, envelope, cdc,
    )
    from . import streaming  # noqa: F401
    from .operators import (  # noqa: F401
        analytics, flagships, functions_pack, graph, pipeline, relational, window,
    )
    rank = _newest_green()
    tail = sorted(
        (n for n in _REGISTERED if n not in _VERIFY_HEAD), key=lambda n: rank.get(n, 0)
    )
    ordered = {n: QUERIES[n] for n in (*_VERIFY_HEAD, *tail)}
    QUERIES.clear()
    QUERIES.update(ordered)
