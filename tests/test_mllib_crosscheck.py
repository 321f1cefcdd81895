"""Independent-implementation cross-check: our MinHash/LSH channel vs
Spark MLlib's MinHashLSH (pyspark.ml.feature) on the same corpus.

The reference directory is empty (SURVEY.md §0), so "matches the
reference implementation" can't be tested directly. MLlib's MinHashLSH
is the closest thing to an independent public implementation available
in-container: a different hash family (perfect-hash affine on vocabulary
indices), a different candidate structure (OR-amplified hash tables vs
banded signatures), and a different exact-Jaccard verifier (sparse
binary vectors vs shingle-set intersection). If both pipelines recover
exactly the brute-force truth pair set on a corpus with no
near-threshold pairs, they agree with each other bit-for-bit on the
final verdict — the strongest parity evidence this sandbox allows.

Determinism basis: planted near-duplicates sit at shingle Jaccard
>= ~0.85, background pairs at ~0.0 — nothing near the 0.8 threshold.
Miss probabilities at these configs: ours (1 - s^4)^32 < 1e-11;
MLlib (1 - s)^32 < 1e-26. Both channels then verify candidates with
EXACT Jaccard, so precision is 1.0 by construction and the assertion is
set equality, not a tolerance.
"""

import random
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.lsh import mh_sh_candidates
from hsip.textkernel import featurize
from hsip.verify import verify_jaccard

THRESH = 0.8
K = 5  # word-shingle width, matched between both paths


def _corpus(spark):
    """Background docs + planted near-dup pairs, all 'wNNN' tokens with
    single spaces so our byte-level tokenizer and a plain whitespace
    split produce identical word 5-gram sets."""
    rng = random.Random(20260820)
    words = [f"w{i:03d}" for i in range(400)]

    def doc(n):
        return " ".join(rng.choice(words) for _ in range(n))

    rows = [(f"bg{i:02d}", doc(120)) for i in range(30)]
    for g in range(8):
        base = doc(150).split()
        rows.append((f"dup{g}a", " ".join(base)))
        edited = list(base)
        for _ in range(rng.choice([1, 2, 3])):
            edited[rng.randrange(len(edited))] = rng.choice(words)
        rows.append((f"dup{g}b", " ".join(edited)))
    return spark.createDataFrame(rows, "doc_id string, text string")


def _truth_pairs(feats):
    """Brute-force exact shingle Jaccard on the driver (86 docs)."""
    sets = {r["id"]: frozenset(r["shingles"])
            for r in feats.select("id", "shingles").collect()}
    truth = set()
    for x, y in combinations(sorted(sets), 2):
        inter = len(sets[x] & sets[y])
        if inter and inter / len(sets[x] | sets[y]) >= THRESH:
            truth.add((x, y))
    return truth


def test_minhash_channel_matches_mllib_minhashlsh(spark):
    pytest.importorskip("pyspark.ml.feature")
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    docs = _corpus(spark).cache()
    docs.count()
    cfg = DedupConfig(shingle_k=K, jaccard_threshold=THRESH)

    # ---- our channel: featurize -> banded LSH -> exact-Jaccard verify
    feats = featurize(docs, "doc_id", "text", cfg).cache()
    feats.count()
    with Regime() as regime:
        cand = mh_sh_candidates(feats.select("id", "sig"), cfg, ("minhash_lsh",), regime)
        ver = verify_jaccard(cand, feats.select("id", "shingles"), cfg, regime)
        ours = {(r["a"], r["b"])
                for r in ver.filter("verdict").select("a", "b").collect()}

    # ---- MLlib: string shingles -> binary CountVectorizer -> MinHashLSH
    toks = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - K),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, K)),
        )
    )
    mldf = docs.select("doc_id", grams.alias("grams"))
    cv = CountVectorizer(inputCol="grams", outputCol="vec", binary=True,
                         vocabSize=1 << 18, minDF=1.0)
    vecs = cv.fit(mldf).transform(mldf).cache()
    vecs.count()
    mh = MinHashLSH(inputCol="vec", outputCol="hashes", numHashTables=32,
                    seed=7)
    model = mh.fit(vecs)
    # approxSimilarityJoin verifies candidates with EXACT Jaccard distance;
    # the epsilon keeps a pair sitting exactly at the threshold inside the
    # strict `dist < thr` join predicate
    joined = model.approxSimilarityJoin(vecs, vecs, 1.0 - THRESH + 1e-9,
                                        distCol="dist")
    theirs = {(r["a"], r["b"]) for r in (
        joined.select(F.col("datasetA.doc_id").alias("a"),
                      F.col("datasetB.doc_id").alias("b"),
                      "dist")
        .filter(F.col("a") < F.col("b"))
        .filter(F.lit(1.0) - F.col("dist") >= THRESH)
        .collect()
    )}
    vecs.unpersist()

    # ---- brute-force truth over the same shingle sets
    truth = _truth_pairs(feats)
    feats.unpersist()
    docs.unpersist()

    assert truth, "vacuous corpus: no planted pair survived at Jaccard >= 0.8"
    # every planted pair should be in truth and nothing else near it:
    # (some planted pairs may legitimately fall below 0.8 when 3 edits
    # land in distinct shingle windows — truth is whatever brute force
    # says, both engines must agree with it exactly)
    assert ours == truth, (
        f"ours != truth: missed={sorted(truth - ours)} extra={sorted(ours - truth)}")
    assert theirs == truth, (
        f"mllib != truth: missed={sorted(truth - theirs)} extra={sorted(theirs - truth)}")
    assert ours == theirs
