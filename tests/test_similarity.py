"""Similarity search: brute-force exactness + RHP-LSH recall vs it."""

import numpy as np
import pytest

from hsip.barrier import Regime
from hsip.metrics import Recorder
from hsip.similarity import brute_force_topk, rhp_lsh_topk, rhp_signatures


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(21)
    # clustered vectors so top-k is meaningful
    centers = rng.standard_normal((10, 32))
    rows = []
    for i in range(300):
        c = centers[i % 10]
        v = c + 0.15 * rng.standard_normal(32)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.collect()
    m = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -2)
    got = brute_force_topk(emb, emb.filter("vec_id < 5"), k=3).collect()
    for r in got:
        qi = int(np.nonzero(ids == int(r.q_id))[0][0])
        order = np.argsort(-sims[qi])
        top3 = {int(ids[j]) for j in order[:3]}
        assert int(r.neighbor_id) in top3


def test_rhp_signature_hamming_tracks_cosine(spark, emb):
    sigs = {r.id: r.sig for r in rhp_signatures(emb, dim=32, seed=7, n_bits=64).collect()}
    rows = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    same = ham(sigs[0], sigs[10])     # same cluster (0 % 10 == 10 % 10)
    diff = ham(sigs[0], sigs[1])      # different clusters
    assert cos(rows[0], rows[10]) > cos(rows[0], rows[1])
    assert same < diff


def test_rhp_lsh_recall_vs_brute_force(spark, emb):
    exact = {
        (r.q_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb, k=3).collect()
    }
    with Regime() as regime:
        approx = {
            (r.q_id, r.neighbor_id)
            for r in rhp_lsh_topk(emb, k=3, dim=32, band_bits=4, seed=7,
                                  regime=regime).collect()
        }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"RHP-LSH recall {recall}"


def test_rhp_lsh_hot_bucket_not_dropped(spark):
    """A query landing ONLY in over-cap buckets must still get neighbors
    (star fallback), and the truncation must reach the metrics recorder —
    no silent caps (VERDICT.md r1 finding 1)."""
    rows = [(i, [1.0] * 8) for i in range(40)]  # one degenerate bucket >> cap
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    rec = Recorder(spark, catalog=None, run_id="t")
    with Regime() as regime:
        out = rhp_lsh_topk(
            emb, k=1, dim=8, band_bits=4, seed=7, bucket_cap=8, recorder=rec,
            regime=regime,
        ).collect()
    assert len(out) == 40, "hot-bucket queries were silently dropped"
    got = rec.collect_observed()
    assert list(got) == ["rhp_lsh_topk"] and got["rhp_lsh_topk"]["hot_buckets"] > 0


def test_memory_recorder_captures_ann_hot_metric(spark):
    """The catalog-less Recorder the ANN contract query rides
    (__spark_entry__.ann_rhp_lsh_topk): hot-bucket truncations must be
    observable via recorded() even with no warehouse attached."""
    rows = [(i, [1.0] * 8) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rec = Recorder(spark, catalog=None, run_id="t")
    with Regime() as regime:
        rhp_lsh_topk(
            emb, k=1, dim=8, band_bits=4, seed=7, bucket_cap=8, recorder=rec,
            regime=regime,
        ).count()
    rec.collect_observed()
    got = rec.recorded()
    assert got.get(("rhp_lsh_topk", "hot_buckets"), 0) > 0
    rec.flush()  # no catalog: must be a no-op, not a crash


def test_ann_contract_query_cache_hygiene(spark):
    """The ANN contract query (__spark_entry__.ann_rhp_lsh_topk) must
    leave only its materialized RESULT cached — the corpus-sized
    signature/band caches are released with the regime before it
    returns (VERDICT r4 #3)."""
    rows = [(i, [float(x) for x in np.random.default_rng(i).standard_normal(8)])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    spark.catalog.clearCache()
    with Regime() as regime:
        out = rhp_lsh_topk(emb, k=2, dim=8, band_bits=4, seed=7, regime=regime)
        out = out.cache()
        out.count()
    # only ONE cached entry (the result) remains in the session
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty()
    out.unpersist()
    assert jcm.isEmpty(), "ANN scratch caches leaked into the session"


def test_ivf_full_probe_equals_brute_force(spark):
    """IVF with n_probe == n_cells covers every cell: output must equal
    exact brute-force cosine top-k (the oracle-verifiable config that
    exercises the full IVF plumbing)."""
    import numpy as np

    from hsip.similarity import brute_force_topk, ivf_topk

    gen = np.random.default_rng(3)
    rows = [(i, [float(x) for x in gen.standard_normal(16)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter("vec_id < 10")
    bf = {(r.q_id, r.rk): r.neighbor_id
          for r in brute_force_topk(emb, probes, k=3).collect()}
    ivf = {(r.q_id, r.rk): r.neighbor_id
           for r in ivf_topk(emb, probes, k=3, dim=16, n_cells=8,
                             n_probe=8, seed=7).collect()}
    assert ivf == bf


def test_ivf_partial_probe_recall_on_clustered_data(spark):
    """The actual IVF operating point: n_probe << n_cells. On
    well-separated clusters the quantizer routes queries to their own
    cluster's cell, so top-k recall vs brute force stays high while
    each query scans ~n_probe/n_cells of the corpus."""
    import numpy as np

    from hsip.similarity import brute_force_topk, ivf_topk

    gen = np.random.default_rng(11)
    centers = gen.standard_normal((8, 16)) * 10
    rows = []
    for i in range(160):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in c + gen.standard_normal(16) * 0.1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter("vec_id < 16")
    bf = {(r.q_id, r.neighbor_id)
          for r in brute_force_topk(emb, probes, k=3).collect()}
    ivf = {(r.q_id, r.neighbor_id)
           for r in ivf_topk(emb, probes, k=3, dim=16, n_cells=8,
                             n_probe=2, seed=7).collect()}
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.9, f"IVF partial-probe recall {recall}"


def test_ivf_centroid_fit_deterministic_and_normalized(spark):
    import numpy as np

    from hsip.similarity import ivf_fit_centroids

    gen = np.random.default_rng(5)
    rows = [(i, [float(x) for x in gen.standard_normal(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = ivf_fit_centroids(emb, dim=8, n_cells=4, seed=9)
    c2 = ivf_fit_centroids(emb, dim=8, n_cells=4, seed=9)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    # more cells than sample points still yields n_cells unit rows
    c3 = ivf_fit_centroids(emb.limit(3), dim=8, n_cells=6, seed=9)
    assert c3.shape == (6, 8)
