"""Semantic dedup (SemDeDup-style) semantics.

Ground truth is computed driver-side in numpy on the 500-vector fixture
(500x64 floats — trivially collectable in a test): exact cosine matrix,
threshold graph, union-find components. The operator must match it
EXACTLY at n_cells=1 (within-cell comparison covers every pair), emit a
strict SUBSET at n_cells>1 (within-cell verification is exact, so the
only approximation is boundary misses — never false positives), and be
invariant to the matmul block budget (the memory knob cannot change the
answer).
"""

import numpy as np
import pytest

from hsip.barrier import Regime
from hsip.similarity import semantic_dedup, semantic_dedup_pairs

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.42


@pytest.fixture(scope="module")
def truth(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    x = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sims = x @ x.T
    ii, jj = np.nonzero(np.triu(sims >= THRESHOLD, k=1))
    pairs = {
        (int(min(a, b)), int(max(a, b))) for a, b in zip(ids[ii], ids[jj])
    }
    # union-find -> min-id component labels
    parent = {int(i): int(i) for i in ids}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {int(i): find(int(i)) for i in ids}
    return pairs, labels


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _pair_set(spark, **kw):
    """semantic_dedup_pairs' pairs, collected under a released regime."""
    with Regime() as regime:
        df = semantic_dedup_pairs(_emb(spark), THRESHOLD, regime=regime, **kw)
        return {(int(r.id_a), int(r.id_b)) for r in df.collect()}


def test_ncells1_pairs_equal_bruteforce(spark, truth):
    got = _pair_set(spark, n_cells=1)
    assert got == truth[0]


def test_block_budget_cannot_change_pairs(spark, truth):
    # 4 KB budget -> block height max(1, 4096/(8*500)) = 1 row: fully
    # exercises the blocked path and its global-index triangle masking
    got = _pair_set(spark, n_cells=1, block_bytes=4096)
    assert got == truth[0]


def test_ivf_cells_subset_with_measured_recall(spark, truth):
    got = _pair_set(spark, n_cells=4, dim=64)
    assert got <= truth[0]  # exact within-cell verify: no false positives
    recall = len(got) / max(len(truth[0]), 1)
    # boundary misses are the documented SemDeDup tradeoff; the label-
    # clustered fixture keeps most near-dup pairs inside one k-means cell
    assert recall >= 0.6, f"within-cell recall collapsed: {recall:.3f}"


def test_clusters_and_keep_flags(spark, truth):
    with Regime() as regime:
        out = semantic_dedup(_emb(spark), THRESHOLD, n_cells=1, regime=regime).collect()
    labels = {int(r.vec_id): int(r.cluster_id) for r in out}
    assert labels == truth[1]
    keepers = {int(r.vec_id) for r in out if r.keep}
    assert keepers == set(truth[1].values())  # exactly the component mins
