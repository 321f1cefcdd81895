"""G2 — MinHash signatures by one-permutation hashing, over Arrow batches.

The permutation is the affine map h(x) = a*x + b (mod 2^64, a odd) — a
bijection of Z_2^64, i.e. a genuine permutation (multiply-shift hashing,
Dietzfelbinger et al., J. Algorithms 1997); no mod-Mersenne-prime
division is needed because shingle inputs are already hash-uniform. The
statistical unbiasedness test (tests/test_minhash.py::test_unbiasedness)
validates collision probability == Jaccard. Coefficients are seeded from
the config so signatures are deterministic across runs/partitions
(resume + recall invariants, BASELINE.json:6).

Vectorization: textkernel.featurize runs ``_oph_batch`` once per Arrow
batch, ONE numpy pass over the batch's flat shingle buffer with a
scatter-min into bins — no per-row Python in the hot loop (input_hint
"no per-row Python", BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np

from .arrowbuf import ragged
from .config import DedupConfig

_EMPTY_SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


def _coeffs(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    gen = np.random.default_rng(seed)
    a = gen.integers(1, 1 << 63, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = gen.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def _oph_batch(flat: np.ndarray, lens: np.ndarray, num_perm: int,
               a0: np.uint64, b0: np.uint64) -> np.ndarray:
    """One-Permutation Hashing (Li/Owen/Zhang, NIPS 2012) with circular
    rotation densification (Shrivastava & Li, ICML 2014) of a batch in
    list layout (``flat`` int64 shingles, per-row ``lens``): ONE affine
    permutation pass over all shingles, scatter-min into num_perm bins,
    then empty bins borrow the nearest non-empty bin to the right
    (circular). Collision probability per bin == Jaccard; cost O(S + P)
    per doc vs O(S*P) for per-permutation MinHash. Returns the (rows,
    num_perm) int64 signatures; an empty row is all sentinel."""
    n = len(lens)
    out = np.full((n, num_perm), _EMPTY_SENTINEL, dtype=np.uint64)
    if len(flat):
        v = a0 * flat.view(np.uint64) + b0  # one wrapping affine permutation of Z_2^64
        # bin = floor(top 32 bits * P / 2^32): < P for any P, and equal to
        # the top log2(P) bits when P is a power of two. < P, so the
        # uint64->int64 VIEW is value-preserving (an astype memcpys ~8
        # bytes/shingle — r6 profile: 3.9 s of a 25.6 s kernel)
        bins = (((v >> np.uint64(32)) * np.uint64(num_perm)) >> np.uint64(32)).view(np.int64)
        row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
        np.minimum.at(out.reshape(-1), row_ids * num_perm + bins, v)
    # Rotation densification: empty bin <- nearest non-empty bin to the
    # right, circularly, in ONE suffix scan over a doubled bin axis (r6:
    # the roll-until-fixpoint loop it replaced ran up to num_perm-1
    # whole-matrix passes, because one nearly-empty row keeps every row
    # rolling). Position j's fill source is the first non-empty position
    # >= j in [out, out] (the circular wrap).
    has_any = lens > 0
    empty = out == _EMPTY_SENTINEL
    if (empty & has_any[:, None]).any():
        p2 = 2 * num_perm
        dbl_valid = np.concatenate([~empty, ~empty], axis=1)
        pos = np.where(dbl_valid, np.arange(p2, dtype=np.int64)[None, :], p2)
        nxt = np.minimum.accumulate(pos[:, ::-1], axis=1)[:, ::-1][:, :num_perm]
        rows_any = np.nonzero(has_any)[0]
        src = np.mod(nxt[rows_any], num_perm)
        out[rows_any] = out[rows_any, :][
            np.arange(len(rows_any))[:, None], src
        ]
    return out.view(np.int64)


def minhash_signatures_local(shingle_sets: list[list[int]], cfg: DedupConfig) -> np.ndarray:
    """Driver-local golden for tests — the same batch kernel, no Spark."""
    a, b = _coeffs(cfg.num_perm, cfg.seed)
    flat, lens = ragged([np.asarray(x, dtype=np.int64) for x in shingle_sets], np.int64)
    return _oph_batch(flat, lens, cfg.num_perm, a[0], b[0])
