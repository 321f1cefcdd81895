"""Incremental dedup: delta-vs-index candidates without corpus recompute."""

import numpy as np
import pytest

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.incremental import (
    build_index,
    incremental_verified_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(31)
    vocab = [f"w{i}" for i in range(800)]

    def doc():
        return " ".join(vocab[i] for i in rng.integers(0, 800, size=120))

    old = [(f"old{i:03d}", doc()) for i in range(50)]
    texts = dict(old)
    # delta: one exact dup of an old doc, one near dup, two fresh docs,
    # and two new docs that duplicate each other
    near = texts["old007"].split()
    for j in rng.choice(120, size=6, replace=False):
        near[j] = vocab[int(rng.integers(0, 800))]
    fresh = doc()
    new = [
        ("new001", texts["old003"]),          # exact vs index
        ("new002", " ".join(near)),           # near vs index
        ("new003", doc()),
        ("new004", fresh),                    # new x new pair
        ("new005", fresh),
    ]
    return old, new


def test_incremental_matches(spark, corpus):
    old, new = corpus
    # 6/120 token edits -> 5-gram shingle Jaccard ~0.61 (each edit kills
    # up to k=5 grams); threshold below that so the near pair verifies
    cfg = DedupConfig(jaccard_threshold=0.55)
    old_df = spark.createDataFrame(old, "doc_id string, text string")
    new_df = spark.createDataFrame(new, "doc_id string, text string")
    idx = build_index(old_df, "doc_id", "text", cfg)
    feats = idx["features"].cache()
    bands = idx["bands"].cache()
    feats.count(), bands.count()

    with Regime() as regime:
        verified = incremental_verified_pairs(
            new_df, "doc_id", "text", feats, bands, cfg, regime
        )
        kept = {(r.a, r.b) for r in verified.filter("verdict").collect()}
    assert ("new001", "old003") in kept       # exact vs index
    assert ("new002", "old007") in kept       # near vs index
    assert ("new004", "new005") in kept       # within-delta pair
    # no old-x-old pairs ever emitted
    assert not any(a.startswith("old") and b.startswith("old") for a, b in kept)


def test_incremental_hot_index_bucket(spark):
    """Over-cap index buckets must not be silently dropped NOR sorted in
    a single-task window: the delta doc pairs with the bucket MIN plus a
    bounded deterministic member sample (one failed verify against the
    min must not cost every match in the bucket — ADVICE.md r2), and the
    truncation is surfaced (VERDICT.md r1 finding 3)."""
    from hsip.incremental import incremental_candidates
    from hsip.lsh import band_table
    from hsip.textkernel import featurize

    cfg = DedupConfig(bucket_cap=4)
    text = " ".join(f"tok{i}" for i in range(30))
    old_df = spark.createDataFrame(
        [(f"old{i:02d}", text) for i in range(12)], "doc_id string, text string"
    )
    new_df = spark.createDataFrame([("new001", text)], "doc_id string, text string")
    idx_bands = band_table(
        featurize(old_df, "doc_id", "text", cfg).select("id", "sig"), cfg
    ).cache()
    idx_bands.count()
    new_feats = featurize(new_df, "doc_id", "text", cfg).cache()

    with Regime() as regime:
        pairs, hot_stats = incremental_candidates(new_feats, idx_bands, cfg, regime)
        got = {(r.a, r.b) for r in pairs.collect()}
        assert ("new001", "old00") in got, got    # bucket min always anchored
        assert all(a == "new001" for a, _ in got)  # only delta-touching pairs
        # bounded: min + ~k sampled anchors, never the whole 12-member bucket
        assert 1 <= len(got) <= 1 + 2 * cfg.hot_anchor_sample_k, got
        assert hot_stats.count() > 0              # truncation is logged
        # deterministic: same seed -> same anchors on a rebuilt plan
        pairs2, _ = incremental_candidates(new_feats, idx_bands, cfg, regime)
        assert {(r.a, r.b) for r in pairs2.collect()} == got
    # skew guard: no single-partition Window sort anywhere in the plan
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, "per-bucket window cap reintroduced"


def test_incremental_regime_releases_caches(spark, corpus):
    """Long-session hygiene (VERDICT r4 #3): releasing the caller's regime
    drains every cache incremental_verified_pairs creates internally
    (delta bands, semi-joined index slice, delta features)."""
    old, new = corpus
    cfg = DedupConfig(jaccard_threshold=0.55)
    old_df = spark.createDataFrame(old, "doc_id string, text string")
    new_df = spark.createDataFrame(new, "doc_id string, text string")
    idx = build_index(old_df, "doc_id", "text", cfg)
    spark.catalog.clearCache()
    with Regime() as regime:
        verified = incremental_verified_pairs(
            new_df, "doc_id", "text", idx["features"], idx["bands"], cfg, regime,
        )
        n = verified.filter("verdict").count()
        # feats + bands + idx_hit + verify_jaccard's pair and pruned
        # shingle tables
        assert n >= 3 and len(regime.sweep) == 5
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "incremental path leaked caches beyond the caller's regime"
    )


def test_incremental_hot_count_is_observed(spark):
    """The hot-bucket count is observed on the new x new and index-side
    size tables by the action that runs the pairs (no count job of its
    own), and equals the rows of the returned hot-bucket stats."""
    from hsip.incremental import incremental_candidates
    from hsip.lsh import band_table
    from hsip.metrics import Recorder
    from hsip.textkernel import featurize

    cfg = DedupConfig(bucket_cap=4)
    text = " ".join(f"tok{i}" for i in range(30))
    old_df = spark.createDataFrame(
        [(f"old{i:02d}", text) for i in range(12)], "doc_id string, text string")
    new_df = spark.createDataFrame(
        [(f"new{i:02d}", text) for i in range(6)], "doc_id string, text string")
    idx_bands = band_table(
        featurize(old_df, "doc_id", "text", cfg).select("id", "sig"), cfg)
    rec = Recorder(spark, catalog=None, run_id="t-inc")
    with Regime() as regime:
        new_feats = regime.reused(featurize(new_df, "doc_id", "text", cfg))
        pairs, hot_stats = incremental_candidates(
            new_feats, idx_bands, cfg, regime, recorder=rec)
        assert pairs.count() > 0
        want = hot_stats.count()
    got = rec.collect_observed()["incremental_candidates"]["hot_buckets_star_paired"]
    # every band bucket is hot on both sides: 6 delta docs and 12 index docs
    assert got == want == 2 * cfg.lsh_bands
