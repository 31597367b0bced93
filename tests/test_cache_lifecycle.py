"""Cache-ownership contract (node_cdc_nats_spark/cache.py, r7 verdict
item 2): registered queries persist multi-consumer intermediates through
managed_persist(), and the harness that owns the consuming action releases
them afterwards — so no registered query leaves cached relations behind
once its action completes."""

from __future__ import annotations

import pytest

from node_cdc_nats_spark import cache, registry

registry.load_all()

SF = "/root/testdata/sf0.001"

# Every query that persists an intermediate (grep managed_persist call
# sites). The test sweeps them all so a future persist added without the
# managed wrapper still fails the module-level grep assertion below.
PERSISTING = [
    "ann_lsh_topk",            # bucket/norm signature table
    "dedup_embedding_banded",  # multi-band signature table
    "knn_label_purity",        # labeled bucket/norm table
    "dedup_ngram_jaccard",     # hashed shingle lists
    "dedup_minhash",           # shingle + minhash signatures
    "dedup_minhash_calibration",
    "doc_rarity_score",        # (doc, token) pair table
    "perplexity_bucket",       # (doc, lang, token) pair table
    "collocation_lift_topk",   # tagged term census
    "dsir_importance_weights", # (doc, lang, bucket) pair table
    "curation_funnel",         # via its dsir_importance_weights stage
    "events_weekly_stickiness",  # distinct (user, day) set
]


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_no_raw_persist_left_in_registered_query_modules():
    # Every persist must go through cache.managed_persist so the harness
    # can release it.
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "node_cdc_nats_spark"
    raw = []
    for p in sorted(root.rglob("*.py")):
        if p.name == "cache.py":
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".persist(" in line and "managed_persist" not in line:
                raw.append(p.name)
    assert raw == [], f"raw persist() outside managed_persist: {raw}"


def test_managed_persist_release_empties_spark_cache(spark):
    spark.catalog.clearCache()  # hermetic vs other tests' cache entries
    cache.release_persisted()
    assert cache.ledger_size() == 0
    df = registry.QUERIES["events_weekly_stickiness"](spark, SF)
    assert df.count() > 0
    assert cache.ledger_size() >= 1, "query did not register its persist"
    assert not _cache_manager_empty(spark)
    released = cache.release_persisted(blocking=True)
    assert released >= 1
    assert cache.ledger_size() == 0
    assert _cache_manager_empty(spark), "cached relations left behind"


@pytest.mark.parametrize("name", PERSISTING)
def test_every_persisting_query_registers_and_releases(spark, name):
    spark.catalog.clearCache()
    cache.release_persisted()
    df = registry.QUERIES[name](spark, SF)
    df.count()
    assert cache.ledger_size() >= 1, f"{name} did not use managed_persist"
    cache.release_persisted(blocking=True)
    assert _cache_manager_empty(spark), f"{name} left cached relations"


def test_release_is_safe_before_the_action(spark):
    # Releasing early must never change results — the DataFrame recomputes.
    spark.catalog.clearCache()
    cache.release_persisted()
    df = registry.QUERIES["doc_rarity_score"](spark, SF)
    cache.release_persisted(blocking=True)  # evict BEFORE the action
    assert df.count() > 0
    cache.release_persisted(blocking=True)
    assert _cache_manager_empty(spark)


def test_ledger_is_session_scoped_and_soft_capped(spark):
    # ADVICE r8: the ledger keys per SparkSession (weak — handles die with
    # the session), release can target one session, and a caller that
    # never releases is bounded by the soft cap instead of accumulating
    # strong references forever.
    spark.catalog.clearCache()
    cache.release_persisted()
    df = spark.range(10)
    cache.managed_persist(df)
    assert cache.ledger_size() == 1
    # scoped release on a DIFFERENT (here: same, passed explicitly)
    # session drains exactly that session's bucket
    assert cache.release_persisted(blocking=True, session=spark) == 1
    assert cache.ledger_size() == 0
    # soft cap: pushing past the cap evicts eldest handles instead of
    # growing without bound
    original_cap = cache._LEDGER_SOFT_CAP
    cache._LEDGER_SOFT_CAP = 5
    try:
        frames = [spark.range(100 + i) for i in range(8)]
        for f in frames:
            cache.managed_persist(f)
        assert cache.ledger_size() == 5
        # the eldest frames were unpersisted by the cap
        assert frames[0].storageLevel.useMemory is False
        assert frames[-1].storageLevel.useMemory is True
    finally:
        cache._LEDGER_SOFT_CAP = original_cap
        cache.release_persisted(blocking=True)
