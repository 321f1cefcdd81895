"""Fused text featurization kernel: text -> (shingles, minhash sig,
simhash) in ONE Arrow-batched numpy pass via mapInPandas.

Why this exists (measured on the 554k-turn corpus): the pure-SQL paths
(shingle.py / simhash.py token hashing) evaluate higher-order-function
lambdas INTERPRETED, one expression-tree eval per array element —
~20-30us per token, ~5,000 CPU-s for 64M tokens. This kernel computes
the same features at memory bandwidth:

  - normalization: pandas vectorized str ops (C-backed)
  - token k-gram hashes: polynomial rolling prefix hashes over the raw
    bytes — hash(span) = (pref[end]-pref[start]) * B^-start, O(1) per
    gram after an O(n) prefix pass (same machinery as suffixes.py)
  - MinHash: one-permutation hashing + rotation densification
    (minhash._oph_batch)
  - SimHash: segmented bit-vote (simhash._simhash_batch)

~100-200 CPU-s for the same corpus — a ~30x reduction, and the
difference between feasible and not at 10^12 turns, so this is the
pipeline's only featurization; the SQL paths stay as library functions
for direct callers. Hash values differ from the SQL path (poly-hash vs
xxhash64) by design; both are config-seeded and internally consistent,
and tests/test_properties.py pins what the two must share: per-doc
distinct-shingle counts and pairwise exact Jaccard.
"""

from __future__ import annotations

import functools
import re
import sys
import unicodedata
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DedupConfig
from .minhash import _coeffs, _oph_batch, _sig_batch
from .simhash import _simhash_batch

_B = np.uint64(1000003)
_BINV = np.uint64(pow(1000003, -1, 1 << 64))
_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)


@functools.cache
def _punct_pattern() -> str:
    r"""strip_punct's regex: non-word, non-space characters, where word
    characters are Python's Unicode \w PLUS the combining marks
    (Mn/Mc/Me) that Java's (?U)\w — the SQL path, normalize.py — also
    counts. Python's \w alone drops them, splitting NFD-accented words
    and Indic words at every vowel sign."""
    marks = "".join(
        chr(c) for c in range(sys.maxunicode + 1)
        if unicodedata.category(chr(c)).startswith("M")
    )
    return f"[^\\w\\s{re.escape(marks)}]"


def _features_schema(simhash_bits: int) -> T.StructType:
    """simhash is one long at 64 bits, array<bigint> lanes at 128
    (matching attach_simhash's layouts — verify dispatches on dtype)."""
    sim_t = T.LongType() if simhash_bits == 64 else T.ArrayType(T.LongType())
    return T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("shingles", T.ArrayType(T.LongType()), False),
            T.StructField("sig", T.ArrayType(T.LongType()), False),
            T.StructField("simhash", sim_t, False),
        ]
    )


FEATURES_SCHEMA = _features_schema(64)


def _mix(h: np.ndarray, seed: np.uint64) -> np.ndarray:
    """fmix64-style avalanche so span hashes decorrelate (MurmurHash3
    finalizer constants — public domain)."""
    h = h ^ seed
    h = h ^ (h >> np.uint64(33))
    h = h * _MIX1
    h = h ^ (h >> np.uint64(33))
    h = h * _MIX2
    h = h ^ (h >> np.uint64(33))
    return h


def _span_hashes(data: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                 pref: np.ndarray, inv: np.ndarray, seed: np.uint64) -> np.ndarray:
    """Position-independent polynomial hashes of byte spans [s, e)."""
    h = (pref[ends] - pref[starts]) * inv[starts]
    # fold in span length so "aa|a" != "a|aa"
    return _mix(h + (ends - starts).astype(np.uint64), seed)


def _doc_features(data: np.ndarray, k: int, seed: np.uint64) -> tuple[np.ndarray, np.ndarray]:
    """(distinct k-gram shingle hashes, per-token hashes) of one
    normalized utf-8 byte array (single-space separated tokens)."""
    n = len(data)
    if n == 0:
        # empty normalized doc: the WHOLE-DOC hash singleton, mirroring
        # the nt<k branch below and the SQL path's `short` fallback
        # (shingle.shingles_col) — an empty shingle ARRAY here would
        # make two empty docs verify at jaccard 0 in fused runs while
        # the SQL path clusters them at 1.0 (same text, same config)
        whole = _mix(np.zeros(1, dtype=np.uint64), seed)
        return whole, np.empty(0, dtype=np.uint64)
    pref = np.zeros(n + 1, dtype=np.uint64)
    pw = np.empty(n, dtype=np.uint64)
    pw[0] = 1
    if n > 1:
        np.cumprod(np.full(n - 1, _B, dtype=np.uint64), out=pw[1:])
    np.cumsum(data.astype(np.uint64) * pw, out=pref[1:])
    inv = np.empty(n + 1, dtype=np.uint64)
    inv[0] = 1
    np.cumprod(np.full(n, _BINV, dtype=np.uint64), out=inv[1:])

    spaces = np.nonzero(data == 32)[0]
    tok_starts = np.concatenate(([0], spaces + 1))
    tok_ends = np.concatenate((spaces, [n]))
    keep = tok_ends > tok_starts  # drop empty tokens (shouldn't occur post-norm)
    tok_starts, tok_ends = tok_starts[keep], tok_ends[keep]
    nt = len(tok_starts)
    if nt == 0:
        # no tokens (shouldn't occur post-norm): whole-doc hash, same
        # rationale as the n == 0 branch above
        whole = _span_hashes(
            data, np.array([0], dtype=np.int64),
            np.array([n], dtype=np.int64), pref, inv, seed,
        )
        return whole, np.empty(0, dtype=np.uint64)
    token_hashes = _span_hashes(data, tok_starts, tok_ends, pref, inv, seed)
    if nt >= k:
        gram_hashes = _span_hashes(
            data, tok_starts[: nt - k + 1], tok_ends[k - 1 :], pref, inv, seed
        )
        shingles = np.unique(gram_hashes)
    else:
        shingles = _span_hashes(
            data,
            np.array([0], dtype=np.int64),
            np.array([n], dtype=np.int64),
            pref, inv, seed,
        )
    return shingles, token_hashes


def featurize(df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, text) -> (id, shingles, sig, simhash), one fused numpy pass."""
    k, seed, num_perm, variant = cfg.shingle_k, cfg.seed, cfg.num_perm, cfg.minhash_variant
    lowercase, collapse, nfc = cfg.lowercase, cfg.collapse_ws, cfg.nfc
    strip_punct = cfg.strip_punct
    sim_lanes = cfg.simhash_bits // 64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = _coeffs(num_perm, seed)
        seed64 = np.uint64(seed)
        for pdf in batches:
            texts = pdf[text_col].astype("string").fillna("")
            if nfc:
                texts = texts.str.normalize("NFC")
            if lowercase:
                texts = texts.str.lower()
            if strip_punct:
                # replace with space, collapse handles runs
                texts = texts.str.replace(_punct_pattern(), " ", regex=True)
            if collapse:
                texts = texts.str.replace(r"\s+", " ", regex=True).str.strip()
            sh_list, tok_list = [], []
            for s in texts:
                data = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
                sh, th = _doc_features(data, k, seed64)
                sh_list.append(sh.view(np.int64))
                tok_list.append(th.view(np.int64))
            sh_series = pd.Series(sh_list)
            if variant == "oph":
                sigs = _oph_batch(sh_series, num_perm, a[0], b[0])
            else:
                sigs = _sig_batch(sh_series, a, b)
            if sim_lanes == 1:
                sims = _simhash_batch(pd.Series(tok_list)).astype(np.int64)
            else:
                # lane l votes over remixed token hashes (lane 0 = the
                # base hashes, matching the 64-bit output bit-for-bit);
                # mirrors attach_simhash's per-lane independent seeding
                lane_vals = []
                for lane in range(sim_lanes):
                    if lane == 0:
                        tl = tok_list
                    else:
                        lseed = np.uint64((seed + 0x9E3779B9 * lane) & (2**64 - 1))
                        tl = [
                            _mix(t.view(np.uint64), lseed).view(np.int64)
                            for t in tok_list
                        ]
                    lane_vals.append(_simhash_batch(pd.Series(tl)).to_numpy())
                sims = list(np.stack(lane_vals, axis=1).astype(np.int64))
            # numpy arrays pass straight through Arrow list conversion —
            # never box 40M shingle hashes into Python ints
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype(str),
                    "shingles": sh_list,
                    "sig": list(sigs),
                    "simhash": sims,
                }
            )

    return df.select(F.col(id_col).cast("string").alias(id_col), text_col).mapInPandas(
        run, schema=_features_schema(cfg.simhash_bits)
    )
