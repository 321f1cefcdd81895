"""Tiered multi-threshold clustering (hsip/cc.py tiered_clusters):
nested-refinement property, singleton coverage, determinism."""

import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.cc import tiered_clusters


def _tiers(ids, scored, thresholds):
    """tiered_clusters' rows, collected under a regime that is then released."""
    with Regime() as regime:
        return tiered_clusters(ids, scored, thresholds, regime=regime).collect()


@pytest.fixture(scope="module")
def scored(spark):
    # a-b strong (0.95), b-c medium (0.75), c-d weak (0.55); e isolated
    rows = [("a", "b", 0.95), ("b", "c", 0.75), ("c", "d", 0.55)]
    return spark.createDataFrame(rows, "a string, b string, jaccard double")


@pytest.fixture(scope="module")
def ids(spark):
    return spark.createDataFrame([(x,) for x in "abcde"], "id string")


def test_tier_labels(spark, ids, scored):
    out = {
        r.id: (r.cluster_t50, r.cluster_t70, r.cluster_t90)
        for r in _tiers(ids, scored, (0.5, 0.7, 0.9))
    }
    assert out["a"] == ("a", "a", "a")
    assert out["b"] == ("a", "a", "a")          # b joins a at every tier
    assert out["c"] == ("a", "a", "c")          # c reaches a through b at <=0.75
    assert out["d"] == ("a", "d", "d")          # d only via the 0.55 edge
    assert out["e"] == ("e", "e", "e")          # singleton at every tier


def test_tiers_are_nested_refinements(spark, ids, scored):
    # same tier-50 label => connected at 0.5; a tier-90 cluster must sit
    # wholly inside one tier-50 cluster (higher tiers refine lower ones)
    rows = _tiers(ids, scored, (0.5, 0.9))
    by_t90 = {}
    for r in rows:
        by_t90.setdefault(r.cluster_t90, set()).add(r.cluster_t50)
    assert all(len(v) == 1 for v in by_t90.values())


def test_partition_invariance(spark, ids, scored):
    a = sorted(map(tuple, _tiers(ids, scored, (0.5, 0.7))))
    b = sorted(map(tuple, _tiers(ids.repartition(5), scored.repartition(3), (0.5, 0.7))))
    assert a == b


def test_empty_thresholds_rejected(spark, ids, scored):
    with pytest.raises(ValueError):
        _tiers(ids, scored, ())


def test_tier_score_counts_fixed_channels_at_every_tier(spark):
    """A pair verified by a fixed-threshold channel scores 1.0 even when
    an LSH candidacy attached a sub-threshold exact jaccard to the same
    row; minhash-only pairs score their jaccard."""
    from pyspark.sql import functions as F

    from hsip.cc import tier_score_col

    rows = [
        ("a", "b", ["minhash_lsh"], 0.8),
        ("c", "d", ["simhash"], 0.6),          # LSH candidate, mh verdict false
        ("e", "f", ["substr"], None),
        ("g", "h", ["exact", "minhash_lsh"], 1.0),
    ]
    df = spark.createDataFrame(
        rows, "a string, b string, channels array<string>, jaccard double")
    got = {(r["a"], r["b"]): r["score"] for r in
           df.select("a", "b", tier_score_col().alias("score")).collect()}
    assert got[("a", "b")] == 0.8
    assert got[("c", "d")] == 1.0   # not dropped from the 0.7/0.9 tiers
    assert got[("e", "f")] == 1.0
    assert got[("g", "h")] == 1.0
