"""One block lifecycle: builders leave blocks only on the caller's Regime
(hsip/barrier.py), and the caller releases them.

Pins: (1) the contract queries that build candidates leave a session as
they found it, call after call: once the returned result is released
the session's CacheManager holds nothing and no persisted RDD was added;
(2) every builder that materializes anything, run under a regime that
is then released, leaves no cached plan and no persisted RDD behind,
with flat barriers and with cache+count barriers (``keep_lineage``, whose
caches the CacheManager lists)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.config import DedupConfig
from tests.test_semantic_dedup import SF_DIR

CFG = DedupConfig(min_substr_len=40, winnow_window=10, jaccard_threshold=0.5)


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("name", [
    "simhash_hamming_pairs", "substr_pairs", "fuzzy_part_name_pairs",
    "ann_rhp_lsh_topk",
])
def test_contract_query_leaves_only_its_result(spark, name):
    import __spark_entry__ as E

    query = E._raw_queries()[name]
    spark.catalog.clearCache()
    before = _persisted(spark)
    for _ in range(2):
        out = query(spark, SF_DIR)
        assert out.count() > 0
        out.unpersist(True)
        assert _cache_manager(spark).isEmpty(), f"{name} left a cached plan"
        assert not _persisted(spark) - before, f"{name} left persisted RDDs"


def _docs(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        ("d1", base),
        ("d2", base + " extra words here"),
        ("d3", " ".join(f"zz{i}" for i in range(60))),
        ("d4", base),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _split(spark):
    docs = _docs(spark)
    return docs.filter("doc_id in ('d1', 'd3')"), docs.filter("doc_id in ('d2', 'd4')")


def _emb(spark):
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _feats(spark):
    from hsip.textkernel import featurize

    return featurize(_docs(spark), "doc_id", "text", CFG)


def _mh_sh(*channels):
    def build(spark, regime):
        from hsip.lsh import mh_sh_candidates

        return mh_sh_candidates(_feats(spark), CFG, channels, regime)

    return build


def _verify_jaccard(spark, regime):
    from hsip.verify import verify_jaccard

    feats = _feats(spark)
    pairs = _mh_sh("minhash_lsh")(spark, regime)
    return verify_jaccard(pairs, feats.select("id", "shingles"), CFG, regime)


def _substr(spark, regime):
    from hsip.suffixes import fingerprint_table, substr_candidates, verify_substr

    docs = _docs(spark)
    pairs, _ = substr_candidates(fingerprint_table(docs, "doc_id", "text", CFG), CFG, regime)
    return verify_substr(pairs, docs, "doc_id", "text", CFG, regime)


def _incremental(spark, regime):
    from hsip.incremental import build_index, incremental_verified_pairs
    from hsip.metrics import Recorder

    old, new = _split(spark)
    idx = build_index(old, "doc_id", "text", CFG)
    return incremental_verified_pairs(
        new, "doc_id", "text", idx["features"], idx["bands"], CFG, regime,
        recorder=Recorder(spark, None, "t"))


def _minhash_decontam(spark, regime):
    from hsip.incremental import minhash_decontaminate

    train, evals = _split(spark)
    return minhash_decontaminate(train, "doc_id", "text", evals, "doc_id", "text",
                                 CFG, regime)


def _substr_decontam(spark, regime):
    from hsip.suffixes import substr_decontaminate

    train, evals = _split(spark)
    return substr_decontaminate(train, "doc_id", "text", evals, "doc_id", "text",
                                CFG, regime)


def _fuzzy_names(spark, regime):
    from hsip.linkage import fuzzy_name_pairs

    names = spark.createDataFrame(
        [("red bolt",), ("rod bolt",), ("blue bolt",), ("small ring",)], "p_name string")
    return fuzzy_name_pairs(names, "p_name", max_dist=2, regime=regime)


def _rhp(spark, regime):
    from hsip.metrics import Recorder
    from hsip.similarity import rhp_lsh_topk

    return rhp_lsh_topk(_emb(spark), k=2, dim=8, band_bits=4, seed=7, bucket_cap=4,
                        recorder=Recorder(spark, None, "t"), regime=regime)


def _semantic_pairs(spark, regime):
    from hsip.metrics import Recorder
    from hsip.similarity import semantic_dedup_pairs

    return semantic_dedup_pairs(_emb(spark), 0.3, n_cells=1,
                                recorder=Recorder(spark, None, "t"), regime=regime)


def _semantic(spark, regime):
    from hsip.similarity import semantic_dedup

    return semantic_dedup(_emb(spark), 0.3, n_cells=1, regime=regime)


def _weighted(spark, regime):
    from hsip.wminhash import weighted_near_dup_pairs

    return weighted_near_dup_pairs(_docs(spark), "doc_id", "text", CFG, regime)


def _phash(spark, regime):
    from hsip.multimodal import phash_near_dup_pairs

    base = 0x0123456789ABCDEF
    feats = spark.createDataFrame(
        [("a", base, True), ("b", base, True), ("c", base ^ 0b11, True)],
        "media_id string, phash long, ok boolean")
    return phash_near_dup_pairs(feats, max_hamming=3, regime=regime)


def _tiered(spark, regime):
    from hsip.cc import tiered_clusters

    ids = spark.createDataFrame([(x,) for x in "abcd"], "id string")
    scored = spark.createDataFrame(
        [("a", "b", 0.95), ("b", "c", 0.6)], "a string, b string, jaccard double")
    return tiered_clusters(ids, scored, (0.5, 0.9), regime=regime)


def _edges(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("b", "a")], "a string, b string")


def _cc_local(spark, regime):
    from hsip.cc import connected_components

    return connected_components(_edges(spark), regime)


def _cc_rounds(spark, regime):
    from hsip.cc import connected_components

    return connected_components(_edges(spark), regime, local_max_edges=0)


def _assign(spark, regime):
    from hsip.cc import assign_clusters

    ids = spark.createDataFrame([(x,) for x in "abcxyz"], "id string")
    return assign_clusters(ids, _edges(spark), regime)


BUILDERS = {
    "mh_sh_candidates:minhash_lsh": _mh_sh("minhash_lsh"),
    "mh_sh_candidates:simhash": _mh_sh("simhash"),
    "mh_sh_candidates:minhash_lsh+simhash": _mh_sh("minhash_lsh", "simhash"),
    "verify_jaccard": _verify_jaccard,
    "substr_candidates+verify_substr": _substr,
    "incremental_verified_pairs": _incremental,
    "minhash_decontaminate": _minhash_decontam,
    "substr_decontaminate": _substr_decontam,
    "fuzzy_name_pairs": _fuzzy_names,
    "rhp_lsh_topk": _rhp,
    "semantic_dedup_pairs": _semantic_pairs,
    "semantic_dedup": _semantic,
    "weighted_near_dup_pairs": _weighted,
    "phash_near_dup_pairs": _phash,
    "tiered_clusters": _tiered,
    "connected_components": _cc_local,
    "connected_components-rounds": _cc_rounds,
    "assign_clusters": _assign,
}


# the ids name the two barrier kinds by the run modes that once selected
# them; they stay so results compare across versions of the suite
@pytest.mark.parametrize("keep_lineage", [False, True], ids=["eager", "latency"])
@pytest.mark.parametrize("name", list(BUILDERS))
def test_builder_leaves_nothing_after_release(spark, name, keep_lineage):
    spark.catalog.clearCache()
    before = _persisted(spark)
    with Regime(keep_lineage=keep_lineage) as regime:
        out = BUILDERS[name](spark, regime)
        assert out.count() > 0
        assert regime.sweep, f"{name} materialized nothing on the regime"
    assert _cache_manager(spark).isEmpty(), f"{name} left a cached plan"
    assert not _persisted(spark) - before, f"{name} left persisted RDDs"


def test_regime_releases_on_failure(spark):
    """A failing block still releases what the builders materialized."""
    before = _persisted(spark)
    with pytest.raises(RuntimeError):
        with Regime() as regime:
            regime.reused(spark.range(50).select(F.col("id") % 7))
            assert _persisted(spark) - before
            raise RuntimeError("boom")
    assert regime.sweep == []
    assert not _persisted(spark) - before
