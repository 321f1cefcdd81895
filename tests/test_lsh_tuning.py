"""optimal_bands / tuned_config (hsip/lsh.py) + the weighted-MinHash
channel riding the standard banding machinery."""

import pytest

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.lsh import (
    lsh_candidate_prob,
    mh_sh_candidates,
    optimal_bands,
    tuned_config,
)


def test_recovers_hand_picked_default():
    """The pipeline's hand-picked 32 bands x 4 rows IS the optimum at
    its own S-curve midpoint (1/32)^(1/4) ~ 0.42 with 128 perms."""
    assert optimal_bands(128, 0.42) == (32, 4)


def test_rows_monotonic_in_threshold():
    prev_rows = 0
    for t in (0.2, 0.4, 0.6, 0.8, 0.95):
        _, rows = optimal_bands(128, t)
        assert rows >= prev_rows
        prev_rows = rows


def test_curve_midpoint_tracks_threshold():
    for t in (0.3, 0.5, 0.7, 0.9):
        b, r = optimal_bands(128, t)
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.15, (t, b, r, mid)


def test_budget_respected_and_validation():
    for perms in (16, 64, 256):
        b, r = optimal_bands(perms, 0.6)
        assert 1 <= b * r <= perms
    with pytest.raises(ValueError):
        optimal_bands(128, 0.0)
    with pytest.raises(ValueError):
        optimal_bands(128, 1.0)


def test_fp_weight_shifts_curve():
    """Weighting false positives harder must not lower the curve
    midpoint (a higher midpoint admits fewer below-threshold pairs)."""
    b_lo, r_lo = optimal_bands(128, 0.5, fp_weight=0.1)
    b_hi, r_hi = optimal_bands(128, 0.5, fp_weight=0.9)
    assert (1.0 / b_hi) ** (1.0 / r_hi) >= (1.0 / b_lo) ** (1.0 / r_lo)


def test_candidate_prob_sane():
    assert lsh_candidate_prob(0.0, 32, 4) == 0.0
    assert lsh_candidate_prob(1.0, 32, 4) == 1.0
    assert lsh_candidate_prob(0.9, 32, 4) > lsh_candidate_prob(0.2, 32, 4)


def test_tuned_config_snaps_num_perm():
    cfg = tuned_config(0.8, seed=7)
    assert cfg.num_perm == cfg.lsh_bands * cfg.lsh_rows
    assert cfg.jaccard_threshold == 0.8
    assert cfg.seed == 7
    assert isinstance(cfg, DedupConfig)


def test_weighted_channel_rides_banding(spark):
    """attach_weighted_minhash output flows through the SAME MinHash
    channel of mh_sh_candidates as featurize's signatures: exact-multiset
    dups must pair; disjoint docs must not."""
    from hsip.wminhash import attach_weighted_minhash

    rows = [
        ("a1", "the quick brown fox jumps over the lazy dog " * 3),
        ("a2", "the quick brown fox jumps over the lazy dog " * 3),
        ("z1", "entirely different content about spark executors " * 3),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cfg = DedupConfig(num_perm=32, lsh_bands=8, lsh_rows=4)
    sigs = attach_weighted_minhash(docs, "doc_id", "text", cfg)
    with Regime() as regime:
        pairs = mh_sh_candidates(sigs, cfg, ("minhash_lsh",), regime)
        got = {(r["a"], r["b"], r["channel"]) for r in pairs.collect()}
    assert ("a1", "a2", "minhash_lsh") in got
    assert all({p[0], p[1]} != {"a1", "z1"} for p in got)
    assert all({p[0], p[1]} != {"a2", "z1"} for p in got)


def test_tuned_config_runs_the_text_pipeline(spark):
    """tuned_config(0.8) snaps num_perm to bands*rows = 117, not a power
    of two: featurize's one-permutation kernel must bin at any num_perm
    (it asserted a power of two inside the executor), and the planted
    near-duplicate must cluster."""
    from hsip.pipeline import run_documents

    cfg = tuned_config(0.8)
    assert cfg.num_perm == 117
    text = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [("a", text), ("b", text + " extra"), ("c", "unrelated words " * 20)],
        "doc_id string, text string",
    )
    res = run_documents(spark, docs, "doc_id", "text", cfg, channels=("minhash_lsh",))
    labels = {r["id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert labels["a"] == labels["b"] != labels["c"]
