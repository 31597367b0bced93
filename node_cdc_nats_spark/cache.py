"""Session-scoped lifecycle for persisted intermediates (cache ownership).

Several registered queries persist a multi-consumer intermediate (a vocab
census, a (doc, token-bucket) pair table, a distinct (user, day) set, an
LSH candidate set) because Spark's exchange reuse does not fire across
differing parents — the persist is what collapses N corpus scans into one,
with measured wins recorded in SCALING.md. The persist itself is correct;
what was missing (r7 verdict item 2) is the release: a long-lived session
running many registered queries accumulated cached relations until executor
storage evicted them.

The contract:

- Operators call :func:`managed_persist` instead of ``df.persist()``. It
  persists at the same storage level as before (``MEMORY_AND_DISK`` by
  default — identical plans, identical storage semantics) and records the
  handle in a ledger keyed by the owning SparkSession.
- The harness that owns the consuming action — ``bench.py`` after each
  query's timed runs, ``scripts/verify_driver.py`` after each oracle
  comparison, a user application whenever a query's results have been
  materialized — calls :func:`release_persisted` to unpersist everything
  the ledger holds. Releasing is always safe: an unpersisted DataFrame
  recomputes (slower, never wrong), so a harness that forgets to call it
  degrades to storage-evicted caches, never to incorrect results.

Scoping (ADVICE r8): the ledger is a ``WeakKeyDictionary`` keyed by
SparkSession, so (a) a session's handles die with the session instead of
pinning py4j objects process-wide, and (b) ``release_persisted`` can be
scoped to one session. The bare ``release_persisted()`` call drains EVERY
live session's bucket — the single-session assumption all in-repo
harnesses satisfy; an application running CONCURRENT sessions through
these operators should pass its own session so interleaved queries don't
release each other's persists mid-build (safe, but cache-defeating). Each
bucket is also soft-capped: past ``_LEDGER_SOFT_CAP`` un-released handles
the OLDEST entry is unpersisted and dropped, so an application that never
calls release is bounded (eldest caches recompute — again slower, never
wrong) instead of growing a strong-reference list forever.

Unpersist-inside-the-query was rejected: registered queries return LAZY
DataFrames (the driver collects later), so the only in-query point where
an unpersist would not defeat the cache is after a blocking action the
query does not own. A release-at-query-entry hook was also rejected:
composed queries (``embed_recall_at_k`` calls ``sim_topk`` and
``ann_lsh_topk`` directly) would evict their own intermediates mid-build.
"""

from __future__ import annotations

import weakref
from typing import TYPE_CHECKING

from pyspark import StorageLevel

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

_LEDGER: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_LEDGER_SOFT_CAP = 512


def managed_persist(
    df: "DataFrame", level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> "DataFrame":
    """Persist ``df`` and record it for a later :func:`release_persisted`.

    Spark's CacheManager dedupes by analyzed plan, so re-running a query
    (bench min-of-3) re-registers the same cache entry, not a copy; the
    ledger may then hold several handles to one entry, and releasing all
    of them is a cheap no-op after the first.
    """
    df.persist(level)
    bucket = _LEDGER.setdefault(df.sparkSession, [])
    bucket.append(df)
    if len(bucket) > _LEDGER_SOFT_CAP:
        # Never-releasing caller: evict the eldest handle instead of
        # accumulating strong references without bound.
        try:
            bucket.pop(0).unpersist(False)
        except Exception:
            pass
    return df


def release_persisted(
    blocking: bool = False, session: "SparkSession | None" = None
) -> int:
    """Unpersist every ledger entry (of ``session`` if given, else of all
    live sessions); returns the number released.

    Call after the consuming action (count/collect/write) of a registered
    query. Safe at any time: releasing a cache never changes results.
    """
    n = 0
    buckets = (
        [_LEDGER.get(session, [])]
        if session is not None
        else list(_LEDGER.values())
    )
    for bucket in buckets:
        while bucket:
            df = bucket.pop()
            try:
                df.unpersist(blocking)
                n += 1
            except Exception:
                # A stopped session cannot unpersist; dropping the handle
                # is the correct terminal state either way.
                pass
    return n


def ledger_size() -> int:
    """Number of persisted handles awaiting release (test/introspection)."""
    return sum(len(b) for b in _LEDGER.values())
