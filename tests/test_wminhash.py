"""ICWS weighted MinHash (hsip/wminhash.py) — statistical contract,
Spark parity, weight sensitivity, and determinism."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.wminhash import (
    _icws_batch,
    attach_weighted_minhash,
    icws_signatures_local,
    weighted_jaccard_local,
)


def _rand_pair(rng, shared, only_a, only_b, wmax=8):
    toks = rng.integers(1, 2**62, size=shared + only_a + only_b)
    a, b = {}, {}
    for i in range(shared):
        a[int(toks[i])] = int(rng.integers(1, wmax))
        b[int(toks[i])] = int(rng.integers(1, wmax))
    for i in range(shared, shared + only_a):
        a[int(toks[i])] = int(rng.integers(1, wmax))
    for i in range(shared + only_a, shared + only_a + only_b):
        b[int(toks[i])] = int(rng.integers(1, wmax))
    return a, b


def test_collision_probability_matches_weighted_jaccard():
    """Pr[sig_k(A) == sig_k(B)] == J_w(A,B) — the ICWS contract (Ioffe
    ICDM'10 thm 1). K=512 gives binomial sd <= 0.023; assert 3 sd."""
    rng = np.random.default_rng(7)
    K = 512
    for shared, oa, ob in [(30, 10, 10), (50, 0, 0), (10, 40, 40), (5, 5, 50)]:
        a, b = _rand_pair(rng, shared, oa, ob)
        jw = weighted_jaccard_local(a, b)
        sigs = icws_signatures_local([a, b], K, seed=42)
        est = float((sigs[0] == sigs[1]).mean())
        sd = max(np.sqrt(jw * (1 - jw) / K), 1e-3)
        assert abs(est - jw) <= 3.5 * sd, (jw, est)


def test_weight_sensitivity_vs_set_jaccard():
    """Same token SET, very different counts: set Jaccard is 1.0 but
    weighted Jaccard (and the ICWS estimate) must be far below — the
    boilerplate-transcript case unweighted MinHash cannot see."""
    toks = {i * 1000 + 7: 1 for i in range(20)}
    heavy = dict(toks)
    heavy[1007] = 41  # one banner token repeated 41x
    jw = weighted_jaccard_local(toks, heavy)
    assert jw < 0.5
    sigs = icws_signatures_local([toks, heavy], 512, seed=42)
    est = float((sigs[0] == sigs[1]).mean())
    assert abs(est - jw) < 0.1
    assert est < 0.6


def test_identical_multisets_collide_fully():
    a = {5: 3, 9: 1, 77: 12}
    sigs = icws_signatures_local([a, dict(a)], 64, seed=1)
    assert (sigs[0] == sigs[1]).all()


def test_empty_rows_sentinel():
    sigs = icws_signatures_local([{}, {}, {1: 2}], 32, seed=3)
    assert (sigs[0] == sigs[1]).all()
    assert not (sigs[0] == sigs[2]).any()


def test_batch_layout_invariance():
    """Kernel output for a row must not depend on which rows share its
    Arrow batch (the RLE segmentation is per-row)."""
    rng = np.random.default_rng(11)
    sets = [_rand_pair(rng, 10, 5, 5)[0] for _ in range(6)]
    full = icws_signatures_local(sets, 48, seed=42)
    solo = np.stack([icws_signatures_local([s], 48, seed=42)[0] for s in sets])
    assert (full == solo).all()


def test_none_and_empty_array_rows():
    arrs = pd.Series([None, np.array([], dtype=np.int64),
                      np.array([3, 3, 4], dtype=np.int64)])
    sigs = np.stack(_icws_batch(arrs, 16, seed=5).to_numpy())
    assert (sigs[0] == sigs[1]).all()
    assert not (sigs[0] == sigs[2]).any()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "alpha beta gamma delta epsilon"),
        ("d2", "alpha beta gamma delta epsilon"),          # exact dup of d1
        ("d3", "alpha " * 40 + "beta gamma delta epsilon"),  # boilerplate-heavy
        ("d4", "zeta eta theta iota kappa"),
        ("d5", ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_spark_matches_local_golden(spark, docs):
    """attach_weighted_minhash == _icws_batch over the JVM-hashed token
    arrays — pins the JVM/Python handoff (xxhash64 token hashing,
    normalization) to the kernel golden."""
    cfg = DedupConfig(num_perm=32, lsh_bands=32, lsh_rows=1)
    from hsip.normalize import norm_text_col, tokens_col

    toks = tokens_col(norm_text_col("text", cfg))
    hashed = docs.select(
        "doc_id",
        F.transform(toks, lambda t: F.xxhash64(t, F.lit(cfg.seed))).alias("h"),
    ).collect()
    arrs = pd.Series(
        [np.asarray(r["h"], dtype=np.int64) for r in
         sorted(hashed, key=lambda r: r["doc_id"])]
    )
    expected = np.stack(_icws_batch(arrs, cfg.num_perm, cfg.seed).to_numpy())

    got = attach_weighted_minhash(docs, "doc_id", "text", cfg).collect()
    got = np.stack(
        [np.asarray(r["sig"], dtype=np.int64)
         for r in sorted(got, key=lambda r: r["id"])]
    )
    assert (got == expected).all()


def test_spark_partition_invariance(spark, docs):
    cfg = DedupConfig(num_perm=16, lsh_bands=16, lsh_rows=1)
    one = {r["id"]: tuple(r["sig"])
           for r in attach_weighted_minhash(docs.coalesce(1), "doc_id", "text", cfg).collect()}
    many = {r["id"]: tuple(r["sig"])
            for r in attach_weighted_minhash(docs.repartition(7), "doc_id", "text", cfg).collect()}
    assert one == many
    assert one["d1"] == one["d2"]          # exact dups agree everywhere
    n_match = sum(x == y for x, y in zip(one["d1"], one["d3"]))
    assert n_match < 16                     # boilerplate copy does NOT


def test_weighted_near_dup_pairs_exact_vs_brute_force(spark):
    """Full weighted channel at a guaranteed-recall config (rows=1:
    any shared sample -> candidate; miss prob (1-J)^64 ~ 0) must equal
    brute-force exact multiset Jaccard >= t on every pair."""
    from collections import Counter
    from itertools import combinations

    from hsip.wminhash import weighted_near_dup_pairs

    texts = {
        "b1": "alpha beta gamma delta " * 6,
        "b2": "alpha beta gamma delta " * 6,              # exact dup
        "b3": "alpha beta gamma delta " * 5 + "omega " * 4,  # near dup
        "b4": "alpha " * 20 + "beta gamma delta",          # boilerplate skew
        "b5": "totally unrelated words here every time",
        "b6": "",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    cfg = DedupConfig(num_perm=64, lsh_bands=64, lsh_rows=1,
                      jaccard_threshold=0.5)
    with Regime() as regime:
        got = {
            (r["a"], r["b"])
            for r in weighted_near_dup_pairs(docs, "doc_id", "text", cfg, regime).collect()
            if r["verdict"]
        }

    def jw(x, y):
        ca, cb = Counter(texts[x].split()), Counter(texts[y].split())
        keys = set(ca) | set(cb)
        den = sum(max(ca[k], cb[k]) for k in keys)
        return sum(min(ca[k], cb[k]) for k in keys) / den if den else 1.0

    want = {
        tuple(sorted(p))
        for p in combinations(texts, 2)
        if jw(*p) >= 0.5 and texts[p[0]] and texts[p[1]]
    }
    assert got == want
    assert ("b1", "b2") in got and ("b1", "b3") in got
    # boilerplate-heavy b4 shares b1's token SET but not its multiset
    assert ("b1", "b4") not in got


def test_verify_wjaccard_values_exact(spark):
    """wjaccard on the verified rows equals the hand-computed ratio."""
    from hsip.wminhash import weighted_near_dup_pairs

    docs = spark.createDataFrame(
        [("x", "a a b c"), ("y", "a b b c")], ["doc_id", "text"]
    )
    cfg = DedupConfig(num_perm=32, lsh_bands=32, lsh_rows=1)
    with Regime() as regime:
        rows = weighted_near_dup_pairs(docs, "doc_id", "text", cfg, regime,
                                       threshold=0.5).collect()
    assert len(rows) == 1
    # min-sum = a:1 + b:1 + c:1 = 3; max-sum = a:2 + b:2 + c:1 = 5
    assert abs(rows[0]["wjaccard"] - 0.6) < 1e-12
    assert rows[0]["verdict"]


def test_empty_doc_pairs_get_verdict_rows(spark):
    """Token-less docs have no token_count_table rows; the verify joins
    must be left-outer so their pairs still get verdict rows: two empty
    docs (identical multisets, sentinel-colliding in LSH) verify as
    wjaccard=1.0/true, empty-vs-nonempty as 0.0/false. Inner joins here
    silently dropped these pairs from the verdict table."""
    from hsip.wminhash import (token_count_table, verify_weighted_jaccard,
                               weighted_near_dup_pairs)

    docs = spark.createDataFrame(
        [("e1", ""), ("e2", "   "), ("x", "alpha beta gamma")],
        ["doc_id", "text"],
    )
    cfg = DedupConfig(num_perm=32, lsh_bands=32, lsh_rows=1,
                      jaccard_threshold=0.5)

    # end-to-end: the sentinel makes the two empty docs collide
    with Regime() as regime:
        got = {
            (r["a"], r["b"]): (r["wjaccard"], r["verdict"])
            for r in weighted_near_dup_pairs(docs, "doc_id", "text", cfg, regime).collect()
        }
    assert got[("e1", "e2")] == (1.0, True)

    # forced empty-vs-nonempty pair: a verdict row exists and is false
    pairs = spark.createDataFrame(
        [("e1", "x", "wminhash"), ("e1", "e2", "wminhash")],
        ["a", "b", "channel"],
    )
    tok = token_count_table(docs, "doc_id", "text", cfg)
    rows = {
        (r["a"], r["b"]): (r["wjaccard"], r["verdict"])
        for r in verify_weighted_jaccard(pairs, tok, 0.5).collect()
    }
    assert rows[("e1", "x")] == (0.0, False)
    assert rows[("e1", "e2")] == (1.0, True)
