"""G5/G6 — SimHash fingerprints + Hamming-ball candidate probing.

SimHash (Charikar, STOC 2002; web near-dup application: Manku/Jain/Das
Sarma, WWW 2007): each token's 64-bit hash votes ±1 per bit position,
weighted by term frequency; the sign vector packs into a 64-bit
fingerprint. Token hashing stays JVM-side (xxhash64 inside transform);
the Python crossing carries only array<long>, and the bit-vote is one
numpy pass per Arrow batch (segmented reduceat — no per-row Python).

Probing (Manku'07 §3, pigeonhole): for Hamming distance <= d, split the
64 bits into d+1 blocks — two fingerprints within distance d agree
exactly on at least one block. Self-equi-join per (block_id, block_bits)
bucket generates candidates; bit_count(xor) <= d verifies (verify.py V3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .config import DedupConfig
from .lsh import pairs_from_buckets
from .normalize import norm_text_col, tokens_col

_BIT_SHIFTS = np.arange(64, dtype=np.uint64)


def _simhash_batch(arrs: pd.Series) -> pd.Series:
    """Segmented bit-vote, one 1-D add.reduceat per bit column.

    The obvious vectorization — materialize a (tokens, 64) vote matrix —
    costs 16 GB and ~560 s for a 64M-token batch; 64 passes of
    ((flat >> j) & 1 -> 1-D reduceat) touch the same data column-wise at
    ~5 s per 10M tokens and O(tokens) memory. Empty rows are excluded
    from the reduceat index list entirely (clamping them corrupts the
    preceding row's segment) and emit simhash 0.
    """
    n = len(arrs)
    if n == 0:
        return pd.Series([], dtype=np.int64)
    lens = np.fromiter(
        (0 if x is None else len(x) for x in arrs), dtype=np.int64, count=n
    )
    total = int(lens.sum())
    out = np.zeros(n, dtype=np.uint64)
    if total == 0:
        return pd.Series(out.view(np.int64))
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in arrs if x is not None and len(x)]
    ).view(np.uint64)
    nz = lens > 0
    starts_all = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts_all[1:])
    nz_starts = starts_all[nz]
    nz_lens = lens[nz]
    nz_ends = nz_starts + nz_lens
    m = len(nz_starts)
    ones = np.empty((m, 64), dtype=np.int64)
    # chunk segments so the 64 column passes stay cache-resident —
    # whole-array passes are memory-bandwidth-bound at ~5x the cost
    seg_chunk = max(1, 8_000_000 // max(1, int(nz_lens.mean())))
    for s0 in range(0, m, seg_chunk):
        s1 = min(m, s0 + seg_chunk)
        lo, hi = nz_starts[s0], nz_ends[s1 - 1]
        sub = flat[lo:hi]
        local = (nz_starts[s0:s1] - lo).astype(np.int64)
        for j in range(64):
            col = ((sub >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
            ones[s0:s1, j] = np.add.reduceat(col, local)
    votes_pos = 2 * ones > nz_lens[:, None]  # majority of 1-bits per position
    packed = (votes_pos.astype(np.uint64) << _BIT_SHIFTS[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[nz] = packed
    return pd.Series(out.view(np.int64))


def attach_simhash(df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, text) -> (id, simhash).

    64-bit config: ``simhash: long`` (unchanged layout). 128-bit config
    (the 10^9+-distinct-docs key-entropy remedy — config.py): ``simhash:
    array<bigint>`` of ``simhash_bits/64`` lanes, where lane ``l`` is the
    64-bit bit-vote over independently-seeded token hashes
    ``xxhash64(token, seed + l)`` — lane 0 is bit-identical to the 64-bit
    fingerprint, so widening never changes the low lane's semantics.
    """
    seed = cfg.seed
    toks = tokens_col(norm_text_col(text_col, cfg))
    lanes = cfg.simhash_bits // 64
    if lanes == 1:
        token_hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))

        @pandas_udf(T.LongType())
        def simhash64(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for arrs in it:
                yield _simhash_batch(arrs)

        return df.select(
            F.col(id_col).cast("string").alias("id"),
            simhash64(token_hashes).alias("simhash"),
        )

    assert lanes == 2  # config validates simhash_bits in (64, 128)

    def _lane_hash(lane_seed: int):
        # single-param lambda: a 2-param one would receive F.transform's
        # (element, index) calling convention and hash the array INDEX
        return F.transform(toks, lambda t: F.xxhash64(t, F.lit(lane_seed)))

    lane_hashes = [_lane_hash(seed + l) for l in range(lanes)]

    @pandas_udf(T.ArrayType(T.LongType()))
    def simhash_lanes(c0: pd.Series, c1: pd.Series) -> pd.Series:
        stacked = np.stack(
            [_simhash_batch(c).to_numpy() for c in (c0, c1)], axis=1
        ).astype(np.int64)
        return pd.Series(list(stacked))

    return df.select(
        F.col(id_col).cast("string").alias("id"),
        simhash_lanes(*lane_hashes).alias("simhash"),
    )


def hamming_block_table(simhash_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, simhash) -> (id, table_id, key_hash): multi-table block probing.

    Generalized Manku'07 §3: split the simhash_bits (64 or 128 — blocks
    are extracted lane-locally, validated in config) into B blocks; any <= d bit
    errors leave >= B-d blocks intact, so enumerating every C(B, B-d)
    block combination as a table key guarantees that two fingerprints
    within Hamming distance d share at least one table key (pigeonhole).
    Longer keys ((B-d) * 64/B bits vs 64/B for the naive scheme) make
    RANDOM collisions vanish — with B=8, d=3 the key is 40 bits. That
    does NOT bound collisions between genuinely Hamming-close documents:
    on boilerplate-heavy corpora simhash bits concentrate, buckets fill
    toward bucket_cap, and the candidate count grows superlinearly until
    the cap's star-pairing regime linearizes it (measured r4: 112k -> 1.6M
    candidates for 4x docs on the fixed-vocab fixture corpus). The
    pipeline therefore keeps per-candidate cost at ~16 bytes by carrying
    (simhash_a, simhash_b) in the pair rows — verification is a
    projection, no joins (see pairs_from_buckets payload_cols).
    """
    import itertools

    B, d = cfg.hamming_blocks, cfg.hamming_d
    k = B - d
    assert k >= 1, "hamming_blocks must exceed hamming_d"
    bits = cfg.simhash_bits
    width = bits // B  # config validates: divides 64, < 64 -> lane-local
    mask = (1 << width) - 1
    lanes = bits // 64

    def _block(i: int):
        pos = i * width
        src = (
            F.col("simhash") if lanes == 1
            else F.element_at(F.col("simhash"), pos // 64 + 1)
        )
        return F.shiftright(src, pos % 64).bitwiseAND(F.lit(mask))

    blocks = [_block(i) for i in range(B)]
    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), *[blocks[b] for b in combo])
            for ci, combo in enumerate(itertools.combinations(range(B), k))
        ]
    )
    # simhash rides along: 8 bytes/row lets pair expansion carry
    # (simhash_a, simhash_b) into each candidate so Hamming verification
    # is a projection, not a join (see pairs_from_buckets payload_cols)
    return simhash_df.select(
        "id", "simhash", F.posexplode(keys).alias("table_id", "key_hash")
    )


def probe_key_entropy(cfg: DedupConfig, n_docs: int, margin_bits: float = 8.0) -> dict:
    """Runtime check of the key-entropy sizing rule (config.py simhash_bits).

    The probe keys carry ``key_bits = (B-d) * (simhash_bits/B)`` bits. Two
    budgets must hold at corpus size n:

    - **rule**: ``key_bits >= log2(n_docs) + margin`` — the documented
      operating envelope (config.py); below it even uniformly-random
      fingerprints birthday-collide into the verify stage.
    - **expected_random_collisions**: ``T * C(n,2) / 2^key_bits`` summed
      over the T = C(B, B-d) tables — the absolute expectation under the
      uniform-bit model. On real corpora bits concentrate and the true
      count is higher (measured: ~1.6M candidates at 135k fixed-vocab
      docs where this expectation reads ~0.5 — BENCH/BASELINE.md r5), so
      this is a FLOOR, useful for sizing, not a guarantee.

    Returns a dict of both; ``ok`` is the rule verdict. The pipeline
    records these per run and warns when ``ok`` is False, so a 10^9+-doc
    deployment on the 64-bit config fails loudly at submit time instead
    of silently flooding verification.
    """
    import itertools
    import math

    B, d = cfg.hamming_blocks, cfg.hamming_d
    key_bits = (B - d) * (cfg.simhash_bits // B)
    n_tables = sum(1 for _ in itertools.combinations(range(B), B - d))
    needed = math.log2(max(n_docs, 2)) + margin_bits
    exp_pairs = n_tables * (n_docs * (n_docs - 1) / 2.0) / float(2 ** key_bits)
    return {
        "key_bits": float(key_bits),
        "needed_bits": needed,
        "n_tables": float(n_tables),
        "expected_random_collisions": exp_pairs,
        "ok": key_bits >= needed,
    }


def simhash_candidates(simhash_df: DataFrame, cfg: DedupConfig,
                       scratch: list | None = None) -> tuple[DataFrame, DataFrame]:
    # scratch: optional list the block cache is appended to so the caller
    # can unpersist it after pair materialization (VERDICT.md r3 item 5).
    # cache + eager count honors the pairs_from_buckets contract (the
    # sizes-groupBy and the join-back both scan the block table, which is
    # C(B, B-d) rows per doc — 56x at B=8,d=3 — so recomputing the
    # posexplode+repartition per consumer doubles the channel's dominant
    # exchange; mirrors hsip/lsh.py lsh_candidates)
    blocks = (
        hamming_block_table(simhash_df, cfg)
        .repartition("table_id", "key_hash")
        .cache()
    )
    blocks.count()
    if scratch is not None:
        scratch.append(blocks)
    return pairs_from_buckets(
        blocks,
        cfg.bucket_cap,
        bucket_cols=("table_id", "key_hash"),
        channel="simhash",
        payload_cols=("simhash",),
    )


def simhash_local(token_hash_sets: list[list[int]]) -> np.ndarray:
    """Driver-local golden implementation for tests."""
    return _simhash_batch(pd.Series([np.asarray(x) for x in token_hash_sets])).to_numpy()
