"""Cross-corpus substring decontamination (suffixes.substr_decontaminate):
planted-contamination recovery, cross-only pairing, eval-side capping."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.suffixes import substr_cross_candidates, substr_decontaminate


def _decontam(train, evals, cfg, **kw):
    """substr_decontaminate's rows, collected under a regime that is then
    released."""
    with Regime() as regime:
        return substr_decontaminate(
            train, "doc_id", "text", evals, "doc_id", "text", cfg, regime, **kw
        ).collect()


def _cfg(**kw):
    # caps off -> the winnowing guarantee makes the channel exact at L
    return DedupConfig(
        min_substr_len=120, winnow_window=30,
        substr_bucket_cap=1_000_000, max_anchors_per_pair=1_000_000, **kw
    )


def _rand_text(rng, n):
    return "".join(rng.choice(list("abcdefgh "), size=n))


@pytest.fixture(scope="module")
def corpora(spark):
    rng = np.random.default_rng(99)
    bench_span = _rand_text(rng, 150)          # the contaminating span
    evals = [("e0", _rand_text(rng, 80) + bench_span + _rand_text(rng, 60)),
             ("e1", _rand_text(rng, 300))]
    train = [
        ("t0", _rand_text(rng, 100) + bench_span + _rand_text(rng, 100)),
        ("t1", bench_span),                                   # exact span doc
        ("t2", _rand_text(rng, 60) + bench_span[:119]),       # 1 char short
        ("t3", _rand_text(rng, 400)),                         # clean
        ("t4", _rand_text(rng, 100) + bench_span + _rand_text(rng, 10)),
    ]
    return (
        spark.createDataFrame(train, ["doc_id", "text"]),
        spark.createDataFrame(evals, ["doc_id", "text"]),
        bench_span,
    )


def test_planted_contamination_recovered(spark, corpora):
    train, evals, span = corpora
    out = [r for r in _decontam(train, evals, _cfg()) if r["verdict"]]
    flagged = {(r["train_id"], r["eval_id"]) for r in out}
    assert flagged == {("t0", "e0"), ("t1", "e0"), ("t4", "e0")}
    lens = {r["train_id"]: r["substr_len"] for r in out}
    # spans are measured over NORMALIZED text (whitespace-collapsed), so
    # the planted 150 raw chars can shrink a little — but never below L
    assert all(v >= 120 for v in lens.values())


def test_short_overlap_and_clean_docs_not_flagged(spark, corpora):
    train, evals, _ = corpora
    ids = {r["train_id"] for r in _decontam(train, evals, _cfg()) if r["verdict"]}
    assert "t2" not in ids          # 119-char overlap < L=120
    assert "t3" not in ids          # clean


def test_never_pairs_within_a_corpus(spark):
    """t0/t1 share a 200-char span with EACH OTHER but with no eval doc:
    decontamination must emit nothing (self-dedup is another channel)."""
    rng = np.random.default_rng(5)
    shared = _rand_text(rng, 200)
    train = spark.createDataFrame(
        [("t0", shared + _rand_text(rng, 50)),
         ("t1", _rand_text(rng, 50) + shared)],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [("e0", _rand_text(rng, 300))], ["doc_id", "text"]
    )
    assert sum(r["verdict"] for r in _decontam(train, evals, _cfg())) == 0


def test_eval_fp_cap_keeps_train_recall(spark):
    """Many eval docs share one fingerprint: capping the eval side must
    still flag every contaminated TRAIN doc (with some witness), and the
    capped fingerprints surface in the stats frame."""
    rng = np.random.default_rng(13)
    span = _rand_text(rng, 160)
    evals = spark.createDataFrame(
        [(f"e{i}", span + _rand_text(rng, 20)) for i in range(6)],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [(f"t{i}", _rand_text(rng, 30) + span) for i in range(4)]
        + [("clean", _rand_text(rng, 300))],
        ["doc_id", "text"],
    )
    cfg = _cfg()
    flagged_train = {r["train_id"] for r in _decontam(train, evals, cfg, eval_fp_cap=2)
                     if r["verdict"]}
    assert flagged_train == {"t0", "t1", "t2", "t3"}

    from hsip.suffixes import fingerprint_table

    fpt = fingerprint_table(train, "doc_id", "text", cfg)
    fpe = fingerprint_table(evals, "doc_id", "text", cfg)
    _, capped = substr_cross_candidates(fpt, fpe, cfg, eval_fp_cap=2)
    assert capped.count() > 0
    assert capped.agg(F.max("bucket_size")).first()[0] == 6


def test_broadcast_toggle_same_answer(spark, corpora):
    train, evals, _ = corpora
    a = _decontam(train, evals, _cfg(), broadcast_eval=True)
    b = _decontam(train, evals, _cfg(), broadcast_eval=False)
    key = lambda rows: sorted(
        (r["train_id"], r["eval_id"], r["substr_len"], r["verdict"])
        for r in rows
    )
    assert key(a) == key(b)


def test_empty_eval_set_flags_nothing(spark, corpora):
    train, evals, _ = corpora
    empty = evals.filter("doc_id = 'nope'")
    assert len(_decontam(train, empty, _cfg())) == 0


def test_empty_train_set_flags_nothing(spark, corpora):
    train, evals, _ = corpora
    empty = train.filter("doc_id = 'nope'")
    assert len(_decontam(empty, evals, _cfg())) == 0
