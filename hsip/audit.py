"""Per-channel exactness audit: channel output vs brute-force truth.

Shared by ``tools/channel_audit.py`` (manual sf0.1 sweeps) and
``tests/test_channel_audit.py`` (the pytest gate that keeps the audit
logic from rotting — VERDICT.md r3 item 4). For each candidate channel
the EXACT ground truth is computed by brute force — no LSH, no sampling
— and the channel's verified output is scored against it:

  minhash_lsh — exact k-shingle Jaccard >= threshold. Brute force via a
                token-Jaccard >= 0.5 superset join (token Jaccard decays
                slower than shingle Jaccard under edits, so the superset
                is safe for shingle thresholds >= 0.7).
  simhash     — exact Hamming <= d over ALL fingerprint pairs (numpy).
  substr      — exact common-substring >= L via the corpus suffix-array
                oracle (duplicate_spans_local).

Everything here collects the corpus to the driver — this is AUDIT
TOOLING for small/medium fixtures, never pipeline code. Do NOT copy the
all-pairs joins into the pipeline.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import verify as V
from .barrier import Regime
from .config import DedupConfig
from .lsh import mh_sh_candidates
from .suffixes import (
    duplicate_spans_local,
    fingerprint_table,
    substr_candidates,
    verify_substr,
)
from .textkernel import featurize


def channel_outputs(docs: DataFrame, id_col: str, text_col: str,
                    cfg: DedupConfig) -> dict[str, set]:
    """Verified (a, b) pair sets per channel, as the pipeline computes
    them: featurize -> mh_sh_candidates -> verify_jaccard_hamming, split
    by channel; fingerprint_table -> substr_candidates -> verify_substr."""
    channels = ("minhash_lsh", "simhash")
    with Regime.for_run(cfg) as regime:  # eager
        feats = regime.reused(featurize(docs, id_col, text_col, cfg))
        pairs = mh_sh_candidates(feats, cfg, channels, regime)
        v = V.verify_jaccard_hamming(pairs, feats, cfg, regime)
        got = {ch: set() for ch in channels}
        for r in v.filter("verdict").collect():
            got[r.channel].add((r.a, r.b))

        fps = regime.reused(fingerprint_table(docs, id_col, text_col, cfg))
        sub_pairs, _ = substr_candidates(fps, cfg, regime)
        vs = verify_substr(sub_pairs, docs, id_col, text_col, cfg, regime)
        got["substr"] = {(r.a, r.b) for r in vs.filter("verdict").collect()}
    return got


def exact_truths(docs: DataFrame, id_col: str, text_col: str,
                 cfg: DedupConfig) -> dict[str, set]:
    """Brute-force exact truth sets per channel (driver-side; audit only)."""
    feats = featurize(docs, id_col, text_col, cfg)
    rows = feats.select("id", "shingles", "simhash").collect()
    ids = [r.id for r in rows]
    sh = {r.id: set(r.shingles) for r in rows}
    # (n, lanes): 64-bit fingerprints are scalars, 128-bit two-lane arrays
    sim = np.array(
        [r.simhash if isinstance(r.simhash, list) else [r.simhash]
         for r in rows],
        dtype=np.int64,
    ).view(np.uint64)

    # truth must see the SAME normalization the channels under audit use
    # (norm_text_col(cfg)) — hard-coding lowercase+collapse here would
    # diverge under strip_punct/nfc/lowercase=False configs and report
    # phantom 'spurious' pairs for a correct channel
    from .normalize import norm_text_col, tokens_col

    normed = docs.select(
        F.col(id_col).cast("string").alias("id"),
        norm_text_col(text_col, cfg).alias("nt"),
    )

    # 1. exact shingle Jaccard via a token-Jaccard superset join
    toks = normed.select(
        "id", F.array_distinct(tokens_col(F.col("nt"))).alias("t"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    superset = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            "a.id", "b.id",
            (F.size(F.array_intersect("a.t", "b.t"))
             / F.size(F.array_union("a.t", "b.t"))).alias("tj"),
        )
        .filter(F.col("tj") >= 0.5)
        .collect()
    )
    truth_j = set()
    for r in superset:
        x, y = r[0], r[1]
        inter = len(sh[x] & sh[y])
        uni = len(sh[x] | sh[y])
        if uni and inter / uni >= cfg.jaccard_threshold:
            truth_j.add((min(x, y), max(x, y)))

    # 2. exact Hamming <= d over all fingerprint pairs
    n = len(sim)
    truth_h = set()
    for i in range(n):
        x = sim[i] ^ sim[i + 1:]  # (m, lanes)
        # popcount across ALL lanes' bytes — works for 64-bit (1 lane)
        # and 128-bit (2 lanes) layouts alike
        hams = np.unpackbits(x.view(np.uint8), axis=1).sum(axis=1)
        for j in np.nonzero(hams <= cfg.hamming_d)[0]:
            p, q = ids[i], ids[i + 1 + int(j)]
            truth_h.add((min(p, q), max(p, q)))

    # 3. exact common-substring >= L via the suffix-array oracle, over
    # the same cfg-normalized texts the channel fingerprints
    texts = {r["id"]: r["nt"] or "" for r in normed.collect()}
    spans = duplicate_spans_local(texts, cfg.min_substr_len)
    truth_s = {(min(x, y), max(x, y)) for x, y, _ in spans}
    return {"minhash_lsh": truth_j, "simhash": truth_h, "substr": truth_s}


def audit_channels(docs: DataFrame, id_col: str, text_col: str,
                   cfg: DedupConfig) -> dict[str, dict]:
    """recall/precision per channel vs brute-force truth."""
    got = channel_outputs(docs, id_col, text_col, cfg)
    truth = exact_truths(docs, id_col, text_col, cfg)
    out = {}
    for ch in got:
        g, t = got[ch], truth[ch]
        hit = len(g & t)
        out[ch] = {
            "recall": hit / len(t) if t else 1.0,
            "precision": hit / len(g) if g else 1.0,
            "n_got": len(g),
            "n_truth": len(t),
            "missed": sorted(t - g)[:5],
            "spurious": sorted(g - t)[:5],
        }
    return out
