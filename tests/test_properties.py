"""Hypothesis property tests over the pure-numpy kernels (SURVEY §5.4).

Spark stays out of the hypothesis loops — these pin the kernel math that
the distributed operators delegate to.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from hsip.arrowbuf import ragged
from hsip.config import DedupConfig
from hsip.minhash import _coeffs, _oph_batch
from hsip.simhash import _simhash_batch
from hsip.suffixes import _rolling_hashes, _sliding, _winnow, duplicate_spans_local
from hsip.textkernel import _doc_features

import pandas as pd
import pytest


def _rows(*rows):
    """List-layout (flat, lens) of int64 rows, as the Arrow boundary hands
    the kernels a batch."""
    return ragged([np.asarray(r, dtype=np.int64) for r in rows], np.int64)

_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F),
    min_size=0,
    max_size=400,
)


@settings(max_examples=60, deadline=None)
@given(_text, st.integers(2, 7))
def test_doc_features_position_independence(t, k):
    """Shingle hash of a token k-gram doesn't depend on where it sits:
    embedding the same text in different prefixes yields overlapping
    shingle sets for the shared part."""
    base = " ".join(t.split()) or "x"
    a = ("pre1 fix2 " + base).encode("utf-8")
    b = ("completely different longer prefix here " + base).encode("utf-8")
    sh_a, _ = _doc_features(np.frombuffer(a, np.uint8), k, np.uint64(1))
    sh_b, _ = _doc_features(np.frombuffer(b, np.uint8), k, np.uint64(1))
    toks = base.split()
    if len(toks) >= k:
        # every k-gram fully inside `base` is shared
        n_shared_expected = len(toks) - k + 1
        shared = len(set(sh_a.tolist()) & set(sh_b.tolist()))
        assert shared >= min(n_shared_expected, 1)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(-(2**62), 2**62), min_size=0, max_size=300),
       st.integers(0, 5))
def test_oph_deterministic_and_shape(xs, seed):
    cfg = DedupConfig(num_perm=64, lsh_bands=64, lsh_rows=1, seed=seed)
    a, b = _coeffs(cfg.num_perm, cfg.seed)
    r1 = _oph_batch(*_rows(xs), 64, a[0], b[0])
    r2 = _oph_batch(*_rows(xs), 64, a[0], b[0])
    assert len(r1[0]) == 64
    assert list(r1[0]) == list(r2[0])
    if xs:
        # identical sets (order shuffled) -> identical signatures
        r3 = _oph_batch(*_rows(list(reversed(xs))), 64, a[0], b[0])
        assert list(r3[0]) == list(r1[0])


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(-(2**62), 2**62), max_size=50),
                min_size=1, max_size=12))
def test_simhash_batch_matches_rowwise(rows):
    """Batched segmented bit-vote == computing each row alone."""
    batched = list(_simhash_batch(*_rows(*rows)))
    for i, r in enumerate(rows):
        alone = _simhash_batch(*_rows(r))[0]
        assert batched[i] == alone


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=600), st.integers(2, 30),
       st.integers(2, 40))
def test_sliding_min_matches_naive(data, k, w):
    h = _rolling_hashes(np.frombuffer(data, np.uint8), k)
    if len(h) > w:
        view = np.lib.stride_tricks.sliding_window_view(h, w)
        assert (_sliding(h, w, np.minimum) == view.min(axis=1)).all()
        assert (_sliding(h, w, np.maximum) == view.max(axis=1)).all()


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=100, max_size=400), st.binary(min_size=50, max_size=200),
       st.binary(min_size=50, max_size=200), st.integers(10, 25),
       st.integers(5, 20))
def test_winnow_guarantee_planted_span(span, pre, post, k, w):
    """A planted common span of length >= k+w-1 always yields a shared
    selected fingerprint (Schleimer'03 theorem, our k/w parameterization)."""
    L = k + w - 1
    if len(span) < L:
        return
    a = pre + span
    b = span + post
    ha = _rolling_hashes(np.frombuffer(a, np.uint8), k)
    hb = _rolling_hashes(np.frombuffer(b, np.uint8), k)
    fa = set(ha[_winnow(ha, w)].tolist())
    fb = set(hb[_winnow(hb, w)].tolist())
    assert fa & fb


@settings(max_examples=20, deadline=None)
@given(st.dictionaries(st.sampled_from(["d1", "d2", "d3", "d4"]),
                       st.text(alphabet="abcd ", min_size=0, max_size=200),
                       min_size=1, max_size=4),
       st.integers(5, 40))
def test_sa_oracle_spans_are_genuine(texts, min_len):
    """Every span the suffix-array oracle reports actually exists in both
    documents (substring containment check)."""
    for a, b, l in duplicate_spans_local(texts, min_len):
        assert l >= min_len
        ta, tb = texts[a], texts[b]
        assert any(
            ta[i : i + l] and ta[i : i + l] in tb for i in range(len(ta) - l + 1)
        )


def test_strip_punct_is_unicode_aware_and_fused(spark):
    """strip_punct must survive non-Latin text on the SQL path ((?U)) and
    actually apply in the fused kernel (ADVICE.md r1)."""
    from hsip.config import DedupConfig
    from hsip.normalize import norm_text_col
    from hsip.textkernel import featurize

    cfg = DedupConfig(strip_punct=True)
    df = spark.createDataFrame([("Привет, мир! Ça va—bien",)], "text string")
    out = df.select(norm_text_col("text", cfg).alias("n")).collect()[0].n
    assert out == "привет мир ça va bien"

    docs = spark.createDataFrame(
        [
            ("a", "alpha beta, gamma delta epsilon zeta"),
            ("b", "alpha beta gamma delta epsilon zeta!!"),
        ],
        "id string, text string",
    )
    sh = {r.id: tuple(r.shingles) for r in featurize(docs, "id", "text", cfg).collect()}
    assert sh["a"] == sh["b"], "fused kernel ignored strip_punct"


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.tuples(st.integers(1, 2**61), st.integers(1, 9)),
             min_size=0, max_size=30),
    st.integers(0, 2**31 - 1),
)
def test_icws_signature_is_multiset_function(pairs, seed):
    """ICWS signature depends only on the token MULTISET: any
    permutation of the flat token-hash array (repeats = weights)
    yields the identical signature."""
    from hsip.wminhash import _icws_batch

    rng = np.random.default_rng(7)
    flat = np.repeat(
        np.fromiter((t for t, _ in pairs), dtype=np.int64, count=len(pairs)),
        np.fromiter((w for _, w in pairs), dtype=np.int64, count=len(pairs)),
    )
    shuffled = rng.permutation(flat)
    sigs = np.stack(
        _icws_batch(pd.Series([flat, shuffled]), 16, seed).to_numpy()
    )
    assert (sigs[0] == sigs[1]).all()


# Reference corpus for the featurize-vs-shingle_docs invariants: empty,
# whitespace-only, short (< k tokens), punctuated, cased, accented (NFC and
# NFD spellings), non-Latin and overlapping docs.
_REF_TEXTS = [
    "", "   ", "\t\n ", "a", "hello", "hello world", "Hello,  World!",
    "hello world again", "hello, world; again!",
    "The quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog.",
    "THE QUICK BROWN FOX JUMPS OVER THE LAZY CAT",
    "café crème brûlée au naïve résumé",
    "cafe\u0301 cre\u0300me bru\u0302le\u0301e au nai\u0308ve re\u0301sume\u0301",
    "Ünïcödé wörds — with “quotes” and… ellipses",
    "हिन्दी में कुछ पाठ, और कुछ हिन्दी में",
    "中文 文本 测试 中文", "don't stop-me now", "don t stop me now",
    "one two three four five six seven", "one two three four five six eight",
    # characters the normalizers of other engines classify differently:
    # No numerics (word characters to Python only), Pc other than "_" and
    # ZWJ/ZWNJ (word characters to Java only), U+001C-U+001F (whitespace
    # to Python only) and NBSP (outside Java's ASCII \s)
    "x\u00b2 \u00bd one two three four", "a\u203fb one two three four",
    "a\u200db one two three four", "a\u200cb one two three four",
    "a\u001cb\u001dc\u001ed\u001fe one two",
    "a\u00a0b one two three four", "a b one two three four",
]


def _shingle_sets(df):
    return {r.id: set(r.shingles) for r in df.collect()}


def _jaccard(x, y):
    return len(x & y) / len(x | y)


@pytest.mark.parametrize("overrides", [
    {},
    {"shingle_k": 2, "nfc": True},
    {"strip_punct": True, "lowercase": False},
])
def test_featurize_matches_shingle_docs_set_sizes_and_jaccard(spark, overrides):
    """The fused kernel (featurize, the pipeline's only featurization) and
    the SQL library path (shingle_docs) hash differently by design
    (polynomial vs xxhash64), but must agree on what the hashes encode:
    each doc's distinct-shingle count and every pair's exact Jaccard.
    NULL text is the one deliberate difference: featurize treats it as ""
    (as collapse_exact's coalesce does), so it is pinned separately."""
    import itertools

    from hsip.shingle import shingle_docs
    from hsip.textkernel import featurize

    cfg = DedupConfig(**overrides)
    rows = [(f"d{i:02d}", t) for i, t in enumerate(_REF_TEXTS)]
    docs = spark.createDataFrame(rows + [("null", None)], "id string, text string")
    fused = featurize(docs, "id", "text", cfg).collect()
    by_id = {r.id: r for r in fused}
    assert (by_id["null"].shingles, by_id["null"].sig, by_id["null"].simhash) == (
        by_id["d00"].shingles, by_id["d00"].sig, by_id["d00"].simhash)

    ids = [i for i, _ in rows]
    f = {r.id: set(r.shingles) for r in fused}
    s = _shingle_sets(shingle_docs(docs, "id", "text", cfg))
    assert {i: len(f[i]) for i in ids} == {i: len(s[i]) for i in ids}
    mismatched = [
        (a, b) for a, b in itertools.combinations(ids, 2)
        if _jaccard(f[a], f[b]) != _jaccard(s[a], s[b])
    ]
    assert not mismatched, mismatched


def test_empty_docs_cluster_identically_on_both_featurizations(spark):
    """Two docs whose text normalizes to empty must verify as exact
    duplicates (jaccard 1.0) under BOTH featurize and the SQL shingle
    path: the fused kernel previously emitted an empty shingle array for
    0-token docs (jaccard 0, not clustered) while the SQL path's whole-
    doc-hash fallback clustered them."""
    from hsip.pipeline import run_documents
    from hsip.shingle import shingle_docs
    from hsip.textkernel import featurize

    docs = spark.createDataFrame(
        [("e1", ""), ("e2", "   "), ("x", "some real text here " * 10),
         ("y", "some real text here " * 10)],
        ["doc_id", "text"],
    )
    cfg = DedupConfig(num_perm=32, lsh_bands=32, lsh_rows=1,
                      jaccard_threshold=0.5)
    for feats in (featurize, shingle_docs):
        sets = _shingle_sets(feats(docs, "doc_id", "text", cfg))
        assert _jaccard(sets["e1"], sets["e2"]) == 1.0, feats.__name__
    res = run_documents(spark, docs, "doc_id", "text", cfg,
                        channels=("minhash_lsh",))
    labels = {r["id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert labels["e1"] == labels["e2"]
    assert labels["x"] == labels["y"]
    assert labels["e1"] != labels["x"]


def test_config_rejects_degenerate_banding_and_winnowing():
    """lsh_bands*lsh_rows > num_perm makes the out-of-range bands slice
    an EMPTY signature segment — every doc buckets together for those
    bands, silently; winnow_window > min_substr_len violates the
    k_sa + w - 1 <= L winnowing guarantee. Both must fail fast."""
    import pytest

    from hsip.config import DedupConfig

    with pytest.raises(ValueError, match="exceeds num_perm"):
        DedupConfig(num_perm=64)  # default 32 bands x 4 rows = 128
    with pytest.raises(ValueError, match="winnow_window"):
        DedupConfig(min_substr_len=50)  # default winnow_window = 100

    with pytest.raises(ValueError, match="both must be >= 1"):
        DedupConfig(num_perm=64, lsh_bands=32, lsh_rows=0)
    with pytest.raises(ValueError, match="both must be >= 1"):
        DedupConfig(num_perm=64, lsh_bands=0, lsh_rows=1)
    with pytest.raises(ValueError, match="must be >= 1"):
        DedupConfig(min_substr_len=100, winnow_window=0)
    DedupConfig(num_perm=64, lsh_bands=16, lsh_rows=4)  # ok
    DedupConfig(min_substr_len=100)  # k_sa = 1, boundary ok


def test_arrow_views_honour_offset_and_64bit_offsets():
    """The Arrow boundary reads sliced arrays at their offset, with 32-
    and 64-bit offsets alike, and an empty batch as zero rows."""
    import pyarrow as pa

    from hsip.arrowbuf import list_views, utf8_views

    texts = ["pad", "héllo", "", "wörld"]
    for typ in (pa.string(), pa.large_string()):
        offsets, data = utf8_views(pa.array(texts, typ).slice(1))
        got = [data[offsets[i]:offsets[i + 1]].tobytes() for i in range(3)]
        assert got == [t.encode("utf-8") for t in texts[1:]]
        offsets, data = utf8_views(pa.array([], typ))
        assert offsets.tolist() == [0] and len(data) == 0
    for typ in (pa.list_(pa.int64()), pa.large_list(pa.int64())):
        flat, lens = list_views(pa.array([[9], [1, 2], [], [3]], typ).slice(1))
        assert flat.tolist() == [1, 2, 3] and lens.tolist() == [2, 0, 1]
