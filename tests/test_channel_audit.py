"""Channel-exactness gate (VERDICT.md r3 item 4): the brute-force audit
(hsip.audit, shared with tools/channel_audit.py) must show recall =
precision = 1.0 per channel on a seeded corpus at guaranteed-recall
configs — so the sf0.1 manual audit logic can't silently rot.

Guarantee basis per channel:
  minhash_lsh — planted duplicates have shingle Jaccard >= ~0.9; at
                (bands, rows) the S-curve miss probability is < 1e-6,
                and signatures are seed-deterministic, so the outcome is
                stable run to run.
  simhash     — Hamming-ball probing with C(B, B-d) multi-table keys is
                exhaustive within d: recall 1.0 by construction.
  substr      — winnowing guarantee theorem: any common span >= L shares
                a selected fingerprint: recall 1.0 by construction.
Precision 1.0 for all three because every channel re-verifies
candidates EXACTLY (true Jaccard / bit_count / byte-extension).
"""

import random

from hsip.audit import audit_channels
from hsip.config import DedupConfig


def _seeded_corpus(spark):
    rng = random.Random(20240817)
    words = [f"w{i:03d}" for i in range(400)]

    def doc(n):
        return " ".join(rng.choice(words) for _ in range(n))

    rows = []
    # background: unrelated documents
    for i in range(30):
        rows.append((f"bg{i:02d}", doc(120)))
    # jaccard/simhash duplicates: copies with a few token edits (high
    # shingle jaccard AND small hamming distance)
    for g in range(6):
        base = doc(150).split()
        rows.append((f"dup{g}a", " ".join(base)))
        edited = list(base)
        for _ in range(2):
            edited[rng.randrange(len(edited))] = rng.choice(words)
        rows.append((f"dup{g}b", " ".join(edited)))
    # substring duplicates: long shared span inside unrelated text
    for g in range(4):
        span = doc(60)
        rows.append((f"sub{g}a", doc(40) + " " + span + " " + doc(40)))
        rows.append((f"sub{g}b", doc(50) + " " + span + " " + doc(30)))
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_channel_audit_exact_on_seeded_corpus(spark):
    docs = _seeded_corpus(spark).cache()
    docs.count()
    # guaranteed-recall config: generous bucket caps (no star truncation
    # on this corpus), default bands/rows, exhaustive hamming probing
    cfg = DedupConfig(jaccard_threshold=0.7, min_substr_len=150,
                      winnow_window=30)
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    results = audit_channels(docs, "doc_id", "text", cfg)
    # every barrier and cache the audit's channel builders placed is released
    assert set(sc._jsc.getPersistentRDDs().keySet()) - before == set()
    docs.unpersist()
    for ch, r in results.items():
        assert r["n_truth"] > 0, f"{ch}: vacuous audit (no planted truth found)"
        assert r["recall"] == 1.0, (ch, r)
        assert r["precision"] == 1.0, (ch, r)


def test_exact_truths_handles_128bit_fingerprints(spark):
    """The audit's Hamming brute force must handle the two-lane 128-bit
    fingerprint layout (it assumed a scalar 64-bit view and crashed on
    reshape), and its truth normalization must follow cfg: with
    strip_punct=True, docs identical modulo punctuation are duplicates
    in every channel's truth set."""
    from hsip.audit import exact_truths
    from hsip.config import DedupConfig

    base = "the same long document body repeated verbatim for the audit " * 6
    docs = spark.createDataFrame(
        [("a", base), ("b", base), ("c", base.replace("the", "??the!!")),
         ("d", "entirely different content here with other words " * 6)],
        ["doc_id", "text"],
    )
    cfg = DedupConfig(simhash_bits=128, hamming_blocks=8,
                      strip_punct=True, min_substr_len=100)
    truths = exact_truths(docs, "doc_id", "text", cfg)
    assert ("a", "b") in truths["simhash"]     # identical -> hamming 0
    assert ("a", "b") in truths["minhash_lsh"]
    assert ("a", "b") in truths["substr"]
    # punctuation-only difference: identical under strip_punct norm
    assert ("a", "c") in truths["substr"]
    assert ("a", "c") in truths["minhash_lsh"]
