"""Degenerate-corpus guards for the bucketed dedup operators.

A corpus with hundreds of identical documents puts them all in the same
(band, minhash) bucket in EVERY band; without a cap, in-bucket pair
generation goes quadratic on one reducer row. The cap drops such buckets —
those documents are exact duplicates and dedup_exact's linear hash-groupBy
is the operator responsible for them.
"""

from __future__ import annotations

import pytest

from node_cdc_nats_spark.operators.dedup import (
    MINHASH_BUCKET_CAP,
    dedup_exact,
    dedup_minhash,
)

N_COPIES = 500
COPY_TEXT = (
    "the quick brown fox jumps over the lazy dog near the quiet river bank "
    "while the morning sun rises slowly over the distant green hills"
)
NEAR_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
NEAR_B = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"


@pytest.fixture(scope="module")
def degenerate_dir(spark, tmp_path_factory):
    """Fixture dir with 500 identical docs + one genuine near-dup pair."""
    rows = [(i, COPY_TEXT, "en", "copies", len(COPY_TEXT)) for i in range(N_COPIES)]
    rows.append((1000, NEAR_A, "en", "pair", len(NEAR_A)))
    rows.append((1001, NEAR_B, "en", "pair", len(NEAR_B)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = tmp_path_factory.mktemp("degenerate")
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark, degenerate_dir):
    assert N_COPIES > MINHASH_BUCKET_CAP  # the scenario actually trips the cap
    pairs = dedup_minhash(spark, degenerate_dir).collect()
    # The 500-copy cluster would contribute 500*499/2 ≈ 125k pairs without
    # the cap; with it, candidate generation stays bounded far below that.
    assert len(pairs) < MINHASH_BUCKET_CAP
    copy_pairs = [p for p in pairs if p.doc_a < N_COPIES and p.doc_b < N_COPIES]
    assert copy_pairs == []
    # The genuine near-dup pair still comes through the capped plan.
    assert any(p.doc_a == 1000 and p.doc_b == 1001 for p in pairs)


def test_exact_dedup_owns_the_capped_duplicates(spark, degenerate_dir):
    groups = {r.keep_doc_id: r.n_copies for r in dedup_exact(spark, degenerate_dir).collect()}
    assert groups[0] == N_COPIES  # linear pass catches what the cap dropped


# -- embedding-side twin of the same guard -------------------------------------
N_VEC_COPIES = 500


@pytest.fixture(scope="module")
def degenerate_embed_dir(spark, tmp_path_factory):
    """embeddings fixture: 500 identical vectors + two near-dup vectors
    that land in the same LSH bucket but are not identical."""
    base = [0.5] * 64
    # The near-dup pair lives in a DIFFERENT bucket than the copies (its
    # sign pattern differs on half the dims), so the cap on the copies'
    # bucket must not affect it.
    near_a = [-0.5] * 32 + [0.5] * 32
    near_b = [-0.5] * 32 + [0.5] * 31 + [0.52]
    rows = [(i, base, 0) for i in range(N_VEC_COPIES)]
    rows.append((2000, near_a, 1))
    rows.append((2001, near_b, 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = tmp_path_factory.mktemp("degenerate_embed")
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "embeddings.parquet"))
    return str(out)


def test_embed_bucket_cap_bounds_degenerate_corpus(spark, degenerate_embed_dir):
    from node_cdc_nats_spark.operators.similarity import (
        EMBED_BUCKET_CAP,
        dedup_embedding_cosine,
        dedup_embedding_exact,
    )

    assert N_VEC_COPIES > EMBED_BUCKET_CAP
    pairs = dedup_embedding_cosine(spark, degenerate_embed_dir, threshold=0.95).collect()
    # The 500-copy cluster (124,750 pairs uncapped) is dropped; the genuine
    # near-dup pair in the same bucket region still comes through.
    copy_pairs = [p for p in pairs if p.vec_a < N_VEC_COPIES and p.vec_b < N_VEC_COPIES]
    assert copy_pairs == []
    assert any(p.vec_a == 2000 and p.vec_b == 2001 for p in pairs)
    # The linear exact pass owns what the cap dropped.
    groups = {
        r.keep_vec_id: r.n_copies
        for r in dedup_embedding_exact(spark, degenerate_embed_dir).collect()
    }
    assert groups[0] == N_VEC_COPIES


# -- adaptive signature width + banding (round 5, ADVICE r4) -------------------
def test_n_planes_scale_and_pool_prefix():
    """The plane count grows log2 with the corpus so EMBED_BUCKET_CAP only
    ever trims degenerate buckets (fixed 8 planes would push ORDINARY
    buckets over the cap past ~65k vectors); the pool's first 8 planes —
    the oracle-visible prefix — never change."""
    from node_cdc_nats_spark.operators import similarity as S

    assert S.n_planes_for(500) == S.N_PLANES  # fixture scale: base 8
    assert S.n_planes_for(8192) == S.N_PLANES
    assert S.n_planes_for(100_000) > S.N_PLANES
    # 100 TB-ish: 2^26 vectors -> expected bucket still ~32
    n = S.n_planes_for(2**26)
    assert 2**n * 32 >= 2**26
    before = [list(p) for p in S.PLANES[: S.N_PLANES]]
    pool = S.planes_pool(3 * S.N_PLANES)
    assert [list(p) for p in pool[: S.N_PLANES]] == before
    assert len(pool) == 3 * S.N_PLANES


def test_banded_embedding_dedup_is_superset(spark, degenerate_embed_dir):
    """n_bands=2 is an OR construction: band 0 is exactly the single-band
    plan, band 1 only adds candidates, and the cross-band DISTINCT leaves
    no duplicate pairs."""
    from node_cdc_nats_spark.operators.similarity import dedup_embedding_cosine

    one = {
        (p.vec_a, p.vec_b)
        for p in dedup_embedding_cosine(
            spark, degenerate_embed_dir, threshold=0.95
        ).collect()
    }
    two_rows = dedup_embedding_cosine(
        spark, degenerate_embed_dir, threshold=0.95, n_bands=2
    ).collect()
    two = {(p.vec_a, p.vec_b) for p in two_rows}
    assert len(two_rows) == len(two)
    assert one <= two


@pytest.fixture(scope="module")
def empty_corpus_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_corpus")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(out / "documents.parquet"))
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(out / "embeddings.parquet"))
    return str(out)


def test_empty_corpus_dedup_paths(spark, empty_corpus_dir):
    """Zero-row Arrow batches must not crash the vectorized kernels
    (ADVICE r4: np.add.reduceat / np.vstack raise on empty input)."""
    from node_cdc_nats_spark.operators.dedup import dedup_simhash
    from node_cdc_nats_spark.operators.similarity import (
        ann_lsh_topk,
        dedup_embedding_cosine,
    )

    assert dedup_simhash(spark, empty_corpus_dir).collect() == []
    assert dedup_embedding_cosine(spark, empty_corpus_dir).collect() == []
    assert ann_lsh_topk(spark, empty_corpus_dir).collect() == []


# -- deep-chain convergence stress (round 5, r4 verdict task 6) ----------------
CHAIN_W, CHAIN_S = 18, 4  # window/stride words: j(i,i+1)=0.6, j(i,i+2)=0.33


def _chain_doc(i: int) -> str:
    return " ".join(f"w{i * CHAIN_S + k:05d}" for k in range(CHAIN_W))


def _chain_dir(spark, tmp_path_factory, n: int) -> str:
    """Sliding-window chain corpus: doc i is a near-dup (Jaccard 0.6) of
    exactly its neighbors — doc i±2 sits at 0.33, under the 0.5 verify
    threshold — so the pair graph is a path of diameter n-1."""
    rows = [(i, _chain_doc(i), "en", "chain", len(_chain_doc(i))) for i in range(n)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = tmp_path_factory.mktemp(f"chain{n}")
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_deep_chain_converges_to_one_component(spark, tmp_path_factory):
    """Min-label propagation needs one round per hop: a diameter-21 path
    exercises ~21 of the 50-round fixpoint budget (the loud-guard regime
    the shallow fixture clusters never reach) and must still produce ONE
    component with doc 0 canonical."""
    from node_cdc_nats_spark.operators.dedup import dedup_clusters, dedup_minhash

    chain = _chain_dir(spark, tmp_path_factory, 22)
    # Precondition, asserted so a banding change fails HERE with the real
    # cause rather than as a mysterious split component below.
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash(spark, chain).select("doc_a", "doc_b").collect()
    }
    assert pairs == {(i, i + 1) for i in range(21)}

    rows = dedup_clusters(spark, chain).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert {r.cluster_size for r in rows} == {22}
    assert [r.doc_id for r in rows if r.is_canonical] == [0]


def test_over_budget_chain_raises_loudly(spark, tmp_path_factory, monkeypatch):
    """A diameter-60 path: the shared pointer-jumping core covers it in the
    default budget (one cluster, doc 0 canonical), and with the budget cut
    to 3 rounds the guard must raise (a silent cap would emit a split
    cluster instead — the failure mode the guard exists to prevent)."""
    from node_cdc_nats_spark.operators import graph
    from node_cdc_nats_spark.operators.dedup import dedup_clusters

    chain = _chain_dir(spark, tmp_path_factory, 61)
    rows = dedup_clusters(spark, chain).collect()
    assert {(r.cluster_id, r.cluster_size) for r in rows} == {(0, 61)}
    assert [r.doc_id for r in rows if r.is_canonical] == [0]

    monkeypatch.setattr(graph, "CC_MAX_ITERS", 3)
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        dedup_clusters(spark, chain)


def test_pairless_corpus_is_all_singletons(spark, tmp_path_factory):
    """No near-dup pair at all: the connected-components core runs on an
    empty edge set, and every document comes back as the canonical member
    of its own size-1 cluster."""
    from node_cdc_nats_spark.operators.dedup import dedup_clusters, dedup_minhash

    texts = [" ".join(f"d{i}w{k}" for k in range(12)) for i in range(5)]
    rows = [(i, t, "en", "solo", len(t)) for i, t in enumerate(texts)]
    out = tmp_path_factory.mktemp("pairless")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(out / "documents.parquet"))
    assert dedup_minhash(spark, str(out)).collect() == []
    got = sorted(tuple(r) for r in dedup_clusters(spark, str(out)).collect())
    assert got == [(i, i, 1, True) for i in range(5)]


def test_multiband_band0_bitmatches_base_udf(spark):
    """Band 0 of the multiband kernel must reproduce bucket_norm_udf
    bit-for-bit (same sequential-d fold order) — this is what keeps the
    fixture-scale banded plan inside the oracle's contract."""
    from pyspark.sql import functions as F

    from node_cdc_nats_spark.io import load_table
    from node_cdc_nats_spark.operators import similarity as S
    from tests.conftest import SF_DIR

    em = load_table(spark, SF_DIR, "embeddings")
    pool = S.planes_pool(2 * S.N_PLANES)
    bands = [pool[: S.N_PLANES], pool[S.N_PLANES : 2 * S.N_PLANES]]
    base = em.select("vec_id", S.bucket_norm_udf().alias("bn"))
    mb = em.select("vec_id", S.multiband_bucket_norm_udf(bands).alias("mb"))
    j = base.join(mb, "vec_id").select(
        (F.col("bn.bucket") == F.col("mb.buckets")[0]).alias("b_eq"),
        (F.col("bn.nrm") == F.col("mb.nrm")).alias("n_eq"),
    )
    rows = j.collect()
    assert rows and all(r.b_eq and r.n_eq for r in rows)


def test_adaptive_planes_path_end_to_end(spark, tmp_path_factory):
    """Run dedup_embedding_cosine on a corpus big enough that
    n_planes_for picks MORE than the base 8 planes (the scale path no
    driver fixture reaches): the wider multiband kernel must run green
    and still surface a planted near-identical pair."""
    import random

    from node_cdc_nats_spark.operators import similarity as S

    n = 9000  # > 8192 -> planes = 9
    assert S.n_planes_for(n) > S.N_PLANES
    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(S.DIM)], 0) for i in range(n)
    ]
    # Planted pair: vector n is a copy of vector 0 with one dim nudged.
    near = list(rows[0][1])
    near[-1] += 1e-3
    rows.append((n, near, 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = tmp_path_factory.mktemp("adaptive")
    df.repartition(4).write.mode("overwrite").parquet(str(out / "embeddings.parquet"))

    pairs = {
        (p.vec_a, p.vec_b): p.score
        for p in S.dedup_embedding_cosine(spark, str(out), threshold=0.99).collect()
    }
    assert (0, n) in pairs and pairs[(0, n)] > 0.999


def test_bloom_prefilter_invariants(spark):
    """Bloom screening contract on the real fixture: (1) no false
    negatives — every incoming doc whose hash IS in the corpus is
    bloom-positive; (2) exact verification runs only on positives, so
    confirmed_dup => bloom_hit; (3) the verdict set matches
    dedup_incremental's survivors exactly (the prefilter changes cost,
    never the answer)."""
    from node_cdc_nats_spark import registry

    registry.load_all()
    out = registry.QUERIES["dedup_bloom_prefilter"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out, "fixture incoming batch must be non-empty"
    for r in out:
        if r["confirmed_dup"]:
            assert r["bloom_hit"], "false negative: confirmed dup missed by Bloom"
    # Survivor equivalence: incremental dedup's kept set == bloom path's
    # non-dup set collapsed keep-first within the batch.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    survivors = {
        r["doc_id"]
        for r in registry.QUERIES["dedup_incremental"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    import pandas as pd

    df = pd.DataFrame([r.asDict() for r in out])
    fresh = df[~df.confirmed_dup].sort_values("doc_id")
    kept = set(fresh.groupby("content_hash").head(1).doc_id)
    assert kept == survivors


# -- simhash-family pair-of-bands banding (round 12, r11 verdict item 1) -------
def _np_simhash60(t: str) -> int:
    """Test-local mirror of the production fingerprint (md5-token majority
    vote) so brute-force expectations are computed OFF the plan under test."""
    import hashlib

    import numpy as np

    toks = t.lower().split(" ") if t else [""]
    hs = np.array(
        [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) for x in toks],
        dtype=np.int64,
    )
    bits = 2 * ((hs[:, None] >> np.arange(60, dtype=np.int64)) & 1) - 1
    v = bits.sum(axis=0)
    return int(((v > 0).astype(np.int64) << np.arange(60, dtype=np.int64)).sum())


def _brute_pairs(fp: dict[int, int], hamming_max: int = 4) -> set[tuple[int, int, int]]:
    ids = sorted(fp)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(fp[a] ^ fp[b]).count("1")
            if h <= hamming_max:
                out.add((a, b, h))
    return out


@pytest.fixture(scope="module")
def flood_dir(spark, tmp_path_factory):
    """500 NEAR-identical docs (200 shared tokens + one unique token each —
    the re-crawled-logo / blank-frame shape the 100 TB media corpus makes
    the expected case) plus two unrelated docs. Unlike the exact-duplicate
    fixture above, fingerprints here are mostly DISTINCT but within a few
    flipped bits, so no linear exact pass can stand in for the banded op."""
    base = " ".join(f"tok{i:03d}" for i in range(200))
    rows = [
        (i, f"{base} unique{i:05d}", "en", "flood", 0) for i in range(500)
    ]
    rows.append((9000, " ".join(f"zzz{i:02d}" for i in range(40)), "en", "other", 0))
    rows.append((9001, " ".join(f"yyy{i:02d}" for i in range(40)), "en", "other", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = tmp_path_factory.mktemp("flood")
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_simhash_degenerate_flood_is_exact(spark, flood_dir):
    """The banded plan must return EXACTLY the quadratic-join answer on a
    many-near-identical corpus — the pair-of-bands rewrite keeps pigeonhole
    recall while the flood stresses the heaviest buckets the scheme can
    see (every flood doc shares every band-pair with most others)."""
    from node_cdc_nats_spark.operators.dedup import dedup_simhash

    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{flood_dir}/documents.parquet").collect()
    }
    expected = _brute_pairs({d: _np_simhash60(t) for d, t in texts.items()})
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_simhash(spark, flood_dir).collect()
    }
    assert got == expected
    # The flood really is degenerate: ~C(500,2) true pairs came through
    # uncapped (exactness, not a cap, is the contract here).
    assert len(got) > 100_000


def test_banded_hamming_pairs_boundary_and_dial(spark):
    """Hamming == 4 kept, == 5 dropped, at every bit position spread; and
    the n_intact dial (210-table/36-bit escalation) returns the identical
    pair set — both designs are exact, they differ only in check volume."""
    from node_cdc_nats_spark.operators.dedup import banded_hamming_pairs

    base = 0x5A5A5A5A5A5A5A % (1 << 60)
    fp = {0: base}
    # +4-bit neighbors at varied positions (within one band, across bands,
    # straddling the top band) and +5-bit near-misses next to each.
    fp[1] = base ^ 0b1111  # 4 flips inside band 0
    fp[2] = base ^ ((1 << 0) | (1 << 11) | (1 << 29) | (1 << 59))  # 4 bands hit
    fp[3] = base ^ 0b11111  # 5 flips inside band 0 -> dropped
    fp[4] = base ^ ((1 << 3) | (1 << 13) | (1 << 23) | (1 << 33) | (1 << 43))  # 5 bands
    fp[5] = base  # identical twin -> hamming 0
    hashed = spark.createDataFrame(
        [(k, v) for k, v in fp.items()], "doc_id long, simhash long"
    )
    expected = _brute_pairs(fp)
    assert {(0, 1, 4), (0, 2, 4), (0, 5, 0)} <= expected
    assert not any({a, b} == {0, 3} or {a, b} == {0, 4} for a, b, _ in expected)
    got_default = {
        tuple(r) for r in banded_hamming_pairs(hashed, "simhash").collect()
    }
    got_dial = {
        tuple(r)
        for r in banded_hamming_pairs(
            hashed, "simhash", n_bands=10, n_intact=6
        ).collect()
    }
    assert got_default == expected
    assert got_dial == expected


def test_banding_keyspace_cut_on_uniform_corpus(spark):
    """The r11 structural `weak`: 5×12-bit single-band keys bound the
    keyspace at 20 480, so UNIFORM random fingerprints — the regime where
    only the keyspace, not corpus structure, drives collisions — pay
    5·n²/2¹³ in-bucket checks. The band-pair scheme's 15×2²⁰ keyspace must
    cut that by ~(5/2¹³)/(15/2²¹) ≈ 85× (asserted ≥ 20× with headroom for
    variance) at BOTH corpus sizes. The old scheme is reproduced exactly as
    (n_bands=5, n_intact=1) of the same generalized builder."""
    import random

    from node_cdc_nats_spark.operators.dedup import banded_check_count

    for n in (2000, 8000):
        rng = random.Random(12)
        hashed = spark.createDataFrame(
            [(i, rng.getrandbits(60)) for i in range(n)],
            "doc_id long, simhash long",
        )
        old = banded_check_count(hashed, "simhash", n_bands=5, n_intact=1)
        new = banded_check_count(hashed, "simhash")
        # Expected: old ~ 5*C(n,2)/2^12, new ~ 15*C(n,2)/2^20.
        assert old > 0
        assert new * 20 <= old, (n, old, new)


def test_candidate_volume_docstring_claims(spark):
    """The measured claims in banded_hamming_pairs' docstring, re-measured
    from the production fingerprints at two corpus sizes (md5 is
    deterministic, the fixtures are pinned — these are exact constants).
    The sf0.1 rows quantify the r11 `weak`'s fix on the REAL corpus:
    842 811 -> 184 587 checks; the residue is templated near-miss
    structure, not keyspace (uniform-corpus test above isolates that term)."""
    from node_cdc_nats_spark.io import load_table
    from node_cdc_nats_spark.operators.dedup import (
        banded_check_count,
        simhash_fingerprints,
    )

    expected = {
        "/root/testdata/sf0.01": (8386, 1937),
        "/root/testdata/sf0.1": (842811, 184587),
    }
    for sf, (old_n, new_n) in expected.items():
        hashed = simhash_fingerprints(load_table(spark, sf, "documents"))
        hashed = hashed.persist()
        try:
            assert banded_check_count(hashed, "simhash", n_bands=5, n_intact=1) == old_n
            assert banded_check_count(hashed, "simhash") == new_n
        finally:
            hashed.unpersist()


def test_perceptual_phash_null_text_guard(spark, tmp_path_factory):
    """ADVICE r11: a NULL text crashed _phash_dhash60 on None.encode while
    the oracle hashes NULL to 0 (CASE over NULL comparisons takes ELSE 0,
    LIST_SUM of zeros = 0 — measured in DuckDB). Both fingerprinting udfs
    must survive NULLs and match the oracle's hash-0 semantics."""
    rows = [
        (0, None, "en", "s", 0),
        (1, "", "en", "s", 0),
        (2, "some genuine text body here", "en", "s", 27),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = tmp_path_factory.mktemp("nulltext")
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))

    from node_cdc_nats_spark.operators.dedup import dedup_simhash
    from node_cdc_nats_spark.operators.multimodal import multimodal_dedup_perceptual

    # No crash is the headline; values: NULL and '' both dHash to 0 so the
    # perceptual op pairs them at hamming 0 (exactly what the oracle does);
    # simhash gives NULL -> 0 but '' -> hash-of-empty-token, so no pair.
    p = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal_dedup_perceptual(spark, str(out)).collect()
    }
    assert (0, 1, 0) in p
    s = dedup_simhash(spark, str(out)).collect()
    assert not any({r.doc_a, r.doc_b} == {0, 1} for r in s)
