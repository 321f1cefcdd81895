"""Fused text featurization kernel: text -> (shingles, minhash sig,
simhash) in ONE Arrow-batched numpy pass via mapInArrow.

Why this exists (measured on the 554k-turn corpus): pure-SQL
featurization (shingle.py's xxhash64 token hashing) evaluates
higher-order-function lambdas INTERPRETED, one expression-tree eval per
array element — ~20-30us per token, ~5,000 CPU-s for 64M tokens. This
kernel computes the same features at memory bandwidth:

  - normalization: the JVM normalizer every channel shares
    (normalize.norm_text_col), NULL text as ""; the kernel reads each
    batch's utf-8 buffer as numpy (arrowbuf.utf8_views), no copy
  - token k-gram hashes: polynomial rolling prefix hashes over the raw
    bytes — hash(span) = (pref[end]-pref[start]) * B^-start, O(1) per
    gram after an O(n) prefix pass (same machinery as suffixes.py)
  - MinHash: one-permutation hashing + rotation densification
    (minhash._oph_batch)
  - SimHash: segmented bit-vote (simhash._simhash_batch)

~100-200 CPU-s for the same corpus — a ~30x reduction, and the
difference between feasible and not at 10^12 turns, so this is the
library's only MinHash/SimHash featurizer: the pipeline, the audit and
the contract queries all read its (sig, simhash) through
lsh.mh_sh_candidates. shingle.shingle_docs stays as the SQL reference:
its hash values differ (xxhash64 vs poly-hash) by design, and
tests/test_properties.py pins what the two must share: per-doc
distinct-shingle counts and pairwise exact Jaccard.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .arrowbuf import list_array, matrix_rows, ragged, utf8_views
from .config import DedupConfig
from .minhash import _coeffs, _oph_batch
from .normalize import norm_text_col
from .simhash import _simhash_batch

_B = np.uint64(1000003)
_BINV = np.uint64(pow(1000003, -1, 1 << 64))
_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _features_schema(simhash_bits: int) -> T.StructType:
    """simhash is one long at 64 bits, array<bigint> lanes at 128
    (simhash_bits/64 lanes; verify dispatches on dtype)."""
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
        # the nt<k branch below and the SQL reference's `short` fallback
        # (shingle.shingles_col) — an empty shingle ARRAY here would
        # make two empty docs verify at jaccard 0 where the reference
        # puts them at 1.0 (same text, same config)
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
    k, seed, num_perm = cfg.shingle_k, cfg.seed, cfg.num_perm
    sim_lanes = cfg.simhash_bits // 64

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        a, b = _coeffs(num_perm, seed)
        seed64 = np.uint64(seed)
        for batch in batches:
            offsets, data = utf8_views(batch.column(1))
            feats = [_doc_features(data[offsets[i]:offsets[i + 1]], k, seed64)
                     for i in range(batch.num_rows)]
            sh, sh_lens = ragged([f[0] for f in feats], np.uint64)
            tok, tok_lens = ragged([f[1] for f in feats], np.uint64)
            sigs = _oph_batch(sh, sh_lens, num_perm, a[0], b[0])
            # lane l votes over independently remixed token hashes (lane
            # 0 = the base hashes, matching the 64-bit output bit-for-bit,
            # so widening never moves the low lane)
            lanes = [tok] + [
                _mix(tok, np.uint64((seed + 0x9E3779B9 * lane) & (2**64 - 1)))
                for lane in range(1, sim_lanes)
            ]
            sims = np.stack([_simhash_batch(t, tok_lens) for t in lanes], axis=1)
            sim_col = pa.array(sims[:, 0]) if sim_lanes == 1 else matrix_rows(sims)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), list_array(sh.view(np.int64), sh_lens),
                 matrix_rows(sigs), sim_col],
                names=["id", "shingles", "sig", "simhash"],
            )

    text = F.coalesce(norm_text_col(text_col, cfg), F.lit(""))
    return df.select(F.col(id_col).cast("string").alias(id_col), text).mapInArrow(
        run, schema=_features_schema(cfg.simhash_bits)
    )
