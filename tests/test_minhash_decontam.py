"""Fuzzy (MinHash/Jaccard) cross-corpus decontamination
(incremental.minhash_decontaminate): paraphrased-leak recovery,
cross-only contract, brute-force equality at a guaranteed-recall config."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.incremental import minhash_decontaminate


def _decontam(train, evals, cfg, verdict_only=True, **kw):
    """minhash_decontaminate's rows (verdict rows by default), collected
    under a regime that is then released."""
    with Regime() as regime:
        out = minhash_decontaminate(
            train, "doc_id", "text", evals, "doc_id", "text", cfg, regime, **kw)
        return (out.filter("verdict") if verdict_only else out).collect()


def _cfg(threshold=0.5):
    # rows=1 -> any shared signature cell is a candidate; miss prob at
    # J >= 0.5 is (1-J)^128 ~ 0, so the channel is exhaustive in tests
    return DedupConfig(num_perm=128, lsh_bands=128, lsh_rows=1,
                       jaccard_threshold=threshold)


def _rand_words(rng, n):
    return " ".join(
        "".join(rng.choice(list("abcdefghij"), size=5)) for _ in range(n)
    )


@pytest.fixture(scope="module")
def corpora(spark):
    rng = np.random.default_rng(21)
    bench = _rand_words(rng, 60)
    bench_words = bench.split()
    # light paraphrase: swap 2 of 60 words, far apart — each swap kills
    # up to k=5 shingles, so J ~ (56-10)/(56+10) ~ 0.7, above 0.5
    edited = list(bench_words)
    edited[0] = "zzz0"
    edited[30] = "zzz30"
    evals = [("e0", bench), ("e1", _rand_words(rng, 80))]
    train = [
        ("t0", bench),                          # verbatim leak
        ("t1", " ".join(edited)),               # light paraphrase
        ("t2", _rand_words(rng, 100)),          # clean
        ("t3", " ".join(bench_words[:10])),     # tiny fragment, low J
    ]
    return (
        spark.createDataFrame(train, ["doc_id", "text"]),
        spark.createDataFrame(evals, ["doc_id", "text"]),
        {tid: t for tid, t in train},
        {eid: t for eid, t in evals},
    )


def _shingles(text, k=5):
    toks = text.split()
    return {tuple(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 0))}


def test_flags_match_brute_force(spark, corpora):
    train, evals, tmap, emap = corpora
    cfg = _cfg(0.5)
    got = {
        (r["train_id"], r["eval_id"])
        for r in _decontam(train, evals, cfg)
    }
    want = set()
    for tid, tt in tmap.items():
        for eid, et in emap.items():
            sa, sb = _shingles(tt), _shingles(et)
            j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
            if j >= 0.5:
                want.add((tid, eid))
    assert got == want
    assert ("t0", "e0") in got and ("t1", "e0") in got
    assert all(t != "t2" and t != "t3" for t, _ in got)


def test_jaccard_values_exact(spark, corpora):
    train, evals, tmap, emap = corpora
    rows = _decontam(train, evals, _cfg(0.5))
    for r in rows:
        sa, sb = _shingles(tmap[r["train_id"]]), _shingles(emap[r["eval_id"]])
        assert abs(r["jaccard"] - len(sa & sb) / len(sa | sb)) < 1e-9


def test_never_pairs_within_a_corpus(spark):
    rng = np.random.default_rng(3)
    dup = _rand_words(rng, 50)
    train = spark.createDataFrame(
        [("t0", dup), ("t1", dup)], ["doc_id", "text"]
    )
    evals = spark.createDataFrame(
        [("e0", _rand_words(rng, 50)), ("e1", _rand_words(rng, 50))],
        ["doc_id", "text"],
    )
    assert len(_decontam(train, evals, _cfg(0.3))) == 0


def test_eval_bucket_cap_keeps_train_recall(spark):
    rng = np.random.default_rng(8)
    bench = _rand_words(rng, 50)
    evals = spark.createDataFrame(
        [(f"e{i}", bench) for i in range(6)], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [(f"t{i}", bench) for i in range(3)] + [("clean", _rand_words(rng, 70))],
        ["doc_id", "text"],
    )
    out = _decontam(train, evals, _cfg(0.8), eval_bucket_cap=2)
    assert {r["train_id"] for r in out} == {"t0", "t1", "t2"}


def test_empty_corpora_flag_nothing(spark, corpora):
    train, evals, _, _ = corpora
    none_e = evals.filter("doc_id = 'nope'")
    none_t = train.filter("doc_id = 'nope'")
    assert len(_decontam(train, none_e, _cfg(0.5), verdict_only=False)) == 0
    assert len(_decontam(none_t, evals, _cfg(0.5), verdict_only=False)) == 0
