"""G2 property tests (SURVEY.md §5.4): MinHash unbiasedness, determinism,
Spark/local golden equality."""

import numpy as np
import pytest

from hsip.config import DedupConfig
from hsip.minhash import minhash_signatures_local
from hsip.textkernel import featurize


def _sets_with_jaccard(rng, jaccard, size=400):
    n_shared = int(size * 2 * jaccard / (1 + jaccard))
    shared = rng.integers(-(2**62), 2**62, size=n_shared).tolist()
    only_a = rng.integers(-(2**62), 2**62, size=size - n_shared).tolist()
    only_b = rng.integers(-(2**62), 2**62, size=size - n_shared).tolist()
    return shared + only_a, shared + only_b


@pytest.mark.parametrize("jacc", [0.3, 0.6, 0.9])
@pytest.mark.parametrize("num_perm", [pytest.param(256, id="oph"),
                                      pytest.param(117, id="oph117")])
def test_unbiasedness(jacc, num_perm):
    """Mean signature agreement ~= Jaccard (Li'12/Shrivastava'14 for
    OPH+densification), CLT tolerance — at a power of two and at 117,
    the num_perm lsh.tuned_config(0.8) snaps to."""
    cfg = DedupConfig(num_perm=num_perm, lsh_bands=num_perm, lsh_rows=1)
    rng = np.random.default_rng(7)
    agreements = []
    for _ in range(8):
        a, b = _sets_with_jaccard(rng, jacc)
        true_j = len(set(a) & set(b)) / len(set(a) | set(b))
        sa, sb = minhash_signatures_local([a, b], cfg)
        agreements.append((np.array(sa) == np.array(sb)).mean() - true_j)
    bias = float(np.mean(agreements))
    assert abs(bias) < 3 * 0.5 / np.sqrt(num_perm * 8)  # 3 sigma


def _random_docs(spark, rng, n_docs, n_words):
    """Docs of random words from a 500-word vocabulary, with an empty and
    a NULL text among them (both featurize to the whole-doc singleton)."""
    vocab = [f"w{i}" for i in range(500)]
    rows = [(str(i), " ".join(vocab[j] for j in rng.integers(0, 500, n_words)))
            for i in range(n_docs)]
    rows += [("empty", ""), ("null", None)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_spark_matches_local(spark):
    """featurize's sig is the local kernel run over its own shingles."""
    cfg = DedupConfig(num_perm=64, lsh_bands=64, lsh_rows=1)
    df = _random_docs(spark, np.random.default_rng(3), 20, 54)
    rows = featurize(df, "doc_id", "text", cfg).collect()
    want = minhash_signatures_local([list(r.shingles) for r in rows], cfg)
    for r, w in zip(rows, want):
        assert list(r.sig) == list(w), r.id


def test_partitioning_invariance(spark):
    """Signatures identical under repartition(1) vs repartition(7)."""
    cfg = DedupConfig(num_perm=32, lsh_bands=32, lsh_rows=1)
    df = _random_docs(spark, np.random.default_rng(5), 50, 34)

    def sigs(frame):
        return {r.id: tuple(r.sig)
                for r in featurize(frame, "doc_id", "text", cfg).collect()}

    assert sigs(df.repartition(1)) == sigs(df.repartition(7))


def test_identical_sets_identical_sigs():
    cfg = DedupConfig(num_perm=128)
    s = list(range(100, 400))
    sa, sb = minhash_signatures_local([s, list(s)], cfg)
    assert list(sa) == list(sb)


def test_oph_densification_is_nearest_nonempty_right():
    """r6 kernel rewrite pin: the one-pass suffix-scan densification must
    equal the rotation-fixpoint definition — every EMPTY bin borrows the
    value of the nearest NON-EMPTY bin to its right, circularly
    (Shrivastava & Li, ICML 2014). Checked against a brute-force oracle
    over adversarial shapes: single-shingle docs (127 empty bins), empty
    docs (all-sentinel rows must survive), and dense docs (no-op)."""
    from hsip.arrowbuf import ragged
    from hsip.minhash import _EMPTY_SENTINEL, _coeffs, _oph_batch

    rng = np.random.default_rng(11)
    num_perm = 128
    a, b = _coeffs(num_perm, 5)
    arrs = [
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int64),
        rng.integers(-2**62, 2**62, 1).astype(np.int64),   # 1 filled bin
        rng.integers(-2**62, 2**62, 2).astype(np.int64),
        rng.integers(-2**62, 2**62, 5000).astype(np.int64),  # dense
    ]
    sigs = _oph_batch(*ragged(arrs, np.int64), num_perm, a[0], b[0])

    # brute-force oracle: scatter-min then per-bin circular right search
    for i, x in enumerate(arrs):
        raw = np.full(num_perm, _EMPTY_SENTINEL, dtype=np.uint64)
        if len(x):
            v = a[0] * x.view(np.uint64) + b[0]
            bins = (v >> np.uint64(64 - 7)).astype(np.int64)
            for bn, val in zip(bins, v):
                raw[bn] = min(raw[bn], val)
        expect = raw.copy()
        if (raw != _EMPTY_SENTINEL).any():
            for j in range(num_perm):
                if raw[j] == _EMPTY_SENTINEL:
                    d = 1
                    while raw[(j + d) % num_perm] == _EMPTY_SENTINEL:
                        d += 1
                    expect[j] = raw[(j + d) % num_perm]
        assert np.array_equal(sigs[i].view(np.uint64), expect), f"row {i}"
