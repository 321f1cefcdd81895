"""Weighted MinHash — ICWS signatures for tf-weighted Jaccard.

Unweighted MinHash treats a document as a token SET: a boilerplate
transcript where one tool banner repeats 40 times and a one-line reply
repeats once look identical to it. The multiset (tf-weighted) Jaccard

    J_w(A, B) = sum_t min(c_A(t), c_B(t)) / sum_t max(c_A(t), c_B(t))

distinguishes them, and Improved Consistent Weighted Sampling (Ioffe,
ICDM 2010) is the standard sketch: sample k of a doc is the (token, t)
pair minimizing a_k(token), where for each (token, sample) the triple
r ~ Gamma(2,1), c ~ Gamma(2,1), b ~ Uniform(0,1) is a deterministic
pseudo-random function of (token_hash, k, seed) and

    t   = floor(ln w / r + b)
    lny = r * (t - b)
    lna = ln c - lny - r          # = ln(c / (y * e^r))

Two docs agree on sample k with probability exactly J_w — the same
collision-probability contract classic MinHash has for set Jaccard
(pinned statistically in tests/test_wminhash.py).

Execution shape mirrors hsip/simhash.py: token hashing stays JVM-side
(xxhash64 inside F.transform over the normalized token array — repeats
preserved, the repeats ARE the weights), the Python crossing carries
only array<long>, and the kernel is one numpy pass per Arrow batch:

1. segmented run-length encode (lexsort + diff) turns the ragged
   (row, token_hash) stream into distinct (row, token, count) triples —
   no per-row np.unique loop;
2. per sample k (K passes of O(distinct) vectorized math), uniforms
   come from splitmix64 mixing of (token ^ mix(k)), gammas via
   -ln(u1)-ln(u2), and the segment argmin is two np.minimum.reduceat
   passes (min lna -> min token among ties -> its t), never a sort;
3. the emitted signature cell is splitmix64(token* ^ mix(t*)) — a
   64-bit value usable by the SAME band_table/pairs_from_buckets LSH
   machinery as classic MinHash signatures.

Scale: O((distinct tokens) * K) per doc, Arrow-batched, chunked to keep
intermediates cache-resident; zero shuffle beyond the projection.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .barrier import Regime
from .config import DedupConfig
from .normalize import norm_text_col, tokens_col

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_U53 = np.float64(1.0 / (1 << 53))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Finalizer of SplitMix64 (Steele/Lea/Flood, OOPSLA 2014) — a
    full-avalanche uint64 bijection; wraparound is the intended mod-2^64
    arithmetic."""
    with np.errstate(over="ignore"):
        x = (x + _GOLDEN).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(30))) * _MIX1).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(27))) * _MIX2).astype(np.uint64)
        return x ^ (x >> np.uint64(31))


def _uniform(x: np.ndarray) -> np.ndarray:
    """uint64 -> (0, 1]: top 53 bits, zero mapped to 1 ulp so ln() is
    finite."""
    u = (x >> np.uint64(11)).astype(np.float64) * _U53
    return np.maximum(u, _U53)


def _rle_rows(arrs: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Ragged token-hash arrays -> (row_id, token, count) distinct triples
    plus per-row segment starts/lengths, all vectorized (one lexsort)."""
    n = len(arrs)
    lens = np.fromiter(
        (0 if x is None else len(x) for x in arrs), dtype=np.int64, count=n
    )
    if lens.sum() == 0:
        z = np.array([], dtype=np.int64)
        return z, z.view(np.uint64), z, np.zeros(n, np.int64), np.zeros(n, np.int64)
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in arrs if x is not None and len(x)]
    ).view(np.uint64)
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    order = np.lexsort((flat, rows))
    r_s, t_s = rows[order], flat[order]
    new = np.empty(len(t_s), dtype=bool)
    new[0] = True
    new[1:] = (t_s[1:] != t_s[:-1]) | (r_s[1:] != r_s[:-1])
    starts = np.flatnonzero(new)
    counts = np.diff(np.append(starts, len(t_s)))
    d_rows, d_toks = r_s[starts], t_s[starts]
    # distinct-triple segment layout per row
    seg_lens = np.bincount(d_rows, minlength=n).astype(np.int64)
    seg_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(seg_lens[:-1], out=seg_starts[1:])
    return d_rows, d_toks, counts.astype(np.int64), seg_starts, seg_lens


def _icws_batch(arrs: pd.Series, num_perm: int, seed: int) -> pd.Series:
    """One Arrow batch of token-hash arrays -> ICWS signatures
    (num_perm int64 cells per row). Empty/None rows get the sentinel
    signature splitmix64(mix(k)) — equal only to other empty rows."""
    n = len(arrs)
    if n == 0:
        return pd.Series([], dtype=object)
    d_rows, d_toks, d_cnts, seg_starts, seg_lens = _rle_rows(arrs)
    out = np.empty((n, num_perm), dtype=np.uint64)
    nz = seg_lens > 0
    nz_starts = seg_starts[nz]
    lnw = np.log(d_cnts.astype(np.float64))
    big_tok = np.uint64(0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        seeded = d_toks ^ _splitmix64(np.uint64(seed) * _GOLDEN)
    for k in range(num_perm):
        with np.errstate(over="ignore"):
            kmix = _splitmix64(np.uint64(seed) + np.uint64(k) * _GOLDEN)
            base = seeded ^ kmix
            b_g = (base + _GOLDEN).astype(np.uint64)
            b_m = (base + _MIX1).astype(np.uint64)
        u1 = _uniform(_splitmix64(base))
        u2 = _uniform(_splitmix64(base ^ _MIX1))
        u3 = _uniform(_splitmix64(base ^ _MIX2))
        u4 = _uniform(_splitmix64(b_g))
        u5 = _uniform(_splitmix64(b_m))
        r = -np.log(u1) - np.log(u2)          # Gamma(2, 1)
        lnc = np.log(-np.log(u3) - np.log(u4))
        beta = u5
        t = np.floor(lnw / r + beta)
        lna = lnc - r * (t - beta) - r
        if len(lna) == 0:
            out[:, k] = _splitmix64(kmix[None])[0]
            continue
        # segment argmin, tie-broken by min token then min t (ties are
        # measure-zero; the break keeps output deterministic anyway)
        min_lna = np.minimum.reduceat(lna, nz_starts)
        is_min = lna == np.repeat(min_lna, seg_lens[nz])
        tok_masked = np.where(is_min, d_toks, big_tok)
        win_tok = np.minimum.reduceat(tok_masked, nz_starts)
        on_win = is_min & (d_toks == np.repeat(win_tok, seg_lens[nz]))
        t_masked = np.where(on_win, t, np.inf)
        win_t = np.minimum.reduceat(t_masked, nz_starts)
        t_bits = win_t.astype(np.int64).view(np.uint64)
        sample = _splitmix64(win_tok ^ _splitmix64(t_bits) ^ kmix)
        col = np.full(n, _splitmix64(kmix[None])[0], dtype=np.uint64)
        col[nz] = sample
        out[:, k] = col
    return pd.Series(list(out.view(np.int64)))


def attach_weighted_minhash(
    df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig
) -> DataFrame:
    """(id, text) -> (id, sig: array<long>) ICWS signatures over
    tf-weighted normalized tokens, in featurize's ``sig`` layout, so
    lsh.mh_sh_candidates bands them unchanged."""
    num_perm, seed = cfg.num_perm, cfg.seed
    toks = tokens_col(norm_text_col(text_col, cfg))
    token_hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))

    @pandas_udf(T.ArrayType(T.LongType()))
    def icws_sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for arrs in it:
            yield _icws_batch(arrs, num_perm, seed)

    return df.select(
        F.col(id_col).cast("string").alias("id"),
        icws_sig(token_hashes).alias("sig"),
    )


def token_count_table(
    df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig
) -> DataFrame:
    """(id, text) -> (id, tok, cnt, tot): one row per distinct token-hash
    per doc with its tf count and the doc's total token count. Token
    hashing is the SAME JVM-side xxhash64 the signatures use, so verify
    and sketch agree on tokenization byte-for-byte."""
    toks = tokens_col(norm_text_col(text_col, cfg))
    hashed = F.transform(toks, lambda t: F.xxhash64(t, F.lit(cfg.seed)))
    tok = (
        df.select(
            F.col(id_col).cast("string").alias("id"),
            F.explode(hashed).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return tok.withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy("id"))
    )


def verify_weighted_jaccard(
    pairs: DataFrame,
    tok_counts: DataFrame,
    threshold: float,
) -> DataFrame:
    """Candidate pairs (a, b, channel) -> exact multiset Jaccard verdicts
    (a, b, channel, wjaccard, verdict).

    sum max = tot_a + tot_b - sum min, so only SHARED tokens join: the
    intersect join is keyed (id, tok) and its volume is bounded by the
    candidates' shared-token mass, never the corpus. ``tok_counts`` is
    pre-pruned to pair-touched ids by semi-joins (the verify.py r4
    hydration discipline).

    Token-less docs have NO tok_counts rows, so their totals are joined
    left-outer and coalesced to 0: a pair of two empty docs (which the
    sentinel signature makes collide in LSH precisely because they are
    identical) verifies as wjaccard=1.0; empty-vs-nonempty as 0.0.
    Inner joins here would silently drop those pairs from the verdict
    table instead."""
    ids = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    tk = tok_counts.join(ids, "id", "left_semi")
    tots = tk.select("id", "tot").distinct()
    inter = (
        pairs.select("a", "b")
        .join(tk.select(F.col("id").alias("a"), "tok",
                        F.col("cnt").alias("cnt_a")), "a")
        .join(tk.select(F.col("id").alias("b"), "tok",
                        F.col("cnt").alias("cnt_b")), ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.sum(F.least("cnt_a", "cnt_b")).alias("inter"))
    )
    uni = (
        F.coalesce("tot_a", F.lit(0)) + F.coalesce("tot_b", F.lit(0))
        - F.coalesce("inter", F.lit(0))
    )
    return (
        pairs.join(inter, ["a", "b"], "left_outer")
        .join(tots.select(F.col("id").alias("a"), F.col("tot").alias("tot_a")),
              "a", "left_outer")
        .join(tots.select(F.col("id").alias("b"), F.col("tot").alias("tot_b")),
              "b", "left_outer")
        .select(
            "a", "b", "channel",
            F.when(uni > 0, F.coalesce("inter", F.lit(0)) / uni)
            .otherwise(F.lit(1.0))
            .alias("wjaccard"),
        )
        .withColumn("verdict", F.col("wjaccard") >= F.lit(threshold))
    )


def weighted_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig,
    regime: Regime,
    threshold: float | None = None,
) -> DataFrame:
    """End-to-end weighted near-dup channel: ICWS signatures -> the
    MinHash channel of lsh.mh_sh_candidates -> exact multiset-Jaccard
    verification of candidates only. Output (a, b, channel='wminhash',
    wjaccard, verdict) matches the other channels' verified-pair shape;
    the bucket table joins ``regime``'s sweep.

    ``threshold`` defaults to cfg.jaccard_threshold; pick (lsh_bands,
    lsh_rows) for it with lsh.tuned_config. Scale: sketch O(distinct
    tokens x num_perm)/doc; verify volume ~ candidate shared-token mass
    (semi-join-pruned hydration), never corpus^2."""
    from .lsh import mh_sh_candidates

    t = cfg.jaccard_threshold if threshold is None else threshold
    sigs = attach_weighted_minhash(df, id_col, text_col, cfg)
    pairs = mh_sh_candidates(sigs, cfg, ("minhash_lsh",), regime) \
        .withColumn("channel", F.lit("wminhash"))
    tok = token_count_table(df, id_col, text_col, cfg)
    return verify_weighted_jaccard(pairs, tok, t)


def weighted_jaccard_local(a: dict, b: dict) -> float:
    """Exact multiset Jaccard over {token: weight} dicts (test golden)."""
    keys = set(a) | set(b)
    num = sum(min(a.get(k, 0), b.get(k, 0)) for k in keys)
    den = sum(max(a.get(k, 0), b.get(k, 0)) for k in keys)
    return num / den if den else 1.0


def icws_signatures_local(
    weighted_sets: list[dict[int, int]], num_perm: int, seed: int
) -> np.ndarray:
    """Driver-local golden: same kernel, token multisets expanded to
    hash arrays with repeats = weights."""
    arrs = pd.Series(
        [
            np.repeat(
                np.fromiter(ws.keys(), dtype=np.int64, count=len(ws)),
                np.fromiter(ws.values(), dtype=np.int64, count=len(ws)),
            )
            for ws in weighted_sets
        ]
    )
    return np.stack(_icws_batch(arrs, num_perm, seed).to_numpy())
