"""G7/V4 — long exact-substring duplicate channel.

Goal (Lee et al., ACL 2022 "Deduplicating Training Data Makes Language
Models Better", ExactSubstr): find document pairs sharing a contiguous
span of >= L characters. The reference method is a corpus-level suffix
array — inherently sequential/global. The Spark-first re-expression here
is *winnowed content-defined fingerprinting* (Schleimer, Wilkerson,
Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
SIGMOD 2003):

 1. Per document (one numpy pass in a pandas UDF): Rabin-Karp rolling
    hashes of every k_sa-char window (k_sa = L - w + 1), then winnowing —
    keep the minimum hash in each window of w consecutive hashes.
    Winnowing's guarantee theorem: any common substring of length
    >= k_sa + w - 1 = L shares at least one *selected* fingerprint, so
    the channel has no false negatives at threshold L.
 2. Shuffle on fingerprint hash; same-bucket docs pair up (the same
    bucket->pairs primitive as LSH, with hot-fingerprint capping for
    boilerplate — capped buckets are logged, never silently dropped).
 3. Verify (V4): re-check candidate pairs against the real texts —
    extend the anchor match left/right to measure the true maximal
    common span; verdict = span >= L. Exact, no hash trust.

A partition-local suffix array (numpy prefix-doubling, suffix_array())
is also provided and used in tests as the correctness oracle for the
fingerprint channel, and exposed as ``exact_substr_within_partitions``
(applyInPandas) for corpus-level duplicate-span *extraction* — the
ACL'22 use-case — where candidate generation still comes from step 2 so
cross-partition duplicates are never missed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .barrier import Barrier, Regime, fits_broadcast
from .config import DedupConfig
from .normalize import norm_text_col

_B = np.uint64(1000003)           # odd multiplier -> invertible mod 2^64
_BINV = np.uint64(pow(1000003, -1, 1 << 64))


def _rolling_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Hash of every k-byte window of ``data`` (uint8), vectorized.

    prefix[i] = sum_{j<i} c_j * B^j  (mod 2^64, wrapping)
    window(i) = (prefix[i+k] - prefix[i]) * B^{-i}  -> position-independent.
    """
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    c = data.astype(np.uint64)
    pw = np.empty(n, dtype=np.uint64)
    pw[0] = 1
    np.cumprod(np.full(n - 1, _B, dtype=np.uint64), out=pw[1:])
    pref = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(c * pw, out=pref[1:])
    inv = np.empty(n, dtype=np.uint64)
    inv[0] = 1
    np.cumprod(np.full(n - 1, _BINV, dtype=np.uint64), out=inv[1:])
    w = (pref[k : n + 1] - pref[: n - k + 1]) * inv[: n - k + 1]
    # finalize with a mix so windows don't correlate with content linearly
    w = w ^ (w >> np.uint64(33))
    w = w * np.uint64(0xFF51AFD7ED558CCD)
    w = w ^ (w >> np.uint64(33))
    return w


def _sliding_min(h: np.ndarray, w: int) -> np.ndarray:
    """O(n) sliding-window minimum (van Herk / Gil-Werman): block prefix
    and suffix minima combine into any window min — independent of w.
    (sliding_window_view(...).min() is O(n*w): ~3,000 CPU-s at w=100 on
    a 427MB corpus; this is ~3 passes over the data.)"""
    n = len(h)
    nb = -(-n // w)
    pad = nb * w - n
    hp = np.concatenate([h, np.full(pad, np.uint64(0xFFFFFFFFFFFFFFFF))]) if pad else h
    blocks = hp.reshape(nb, w)
    fwd = np.minimum.accumulate(blocks, axis=1).ravel()
    bwd = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(bwd[: n - w + 1], fwd[w - 1 : n])


def _sliding_max(h: np.ndarray, w: int) -> np.ndarray:
    n = len(h)
    nb = -(-n // w)
    pad = nb * w - n
    hp = np.concatenate([h, np.zeros(pad, dtype=h.dtype)]) if pad else h
    blocks = hp.reshape(nb, w)
    fwd = np.maximum.accumulate(blocks, axis=1).ravel()
    bwd = np.maximum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.maximum(bwd[: n - w + 1], fwd[w - 1 : n])


def _winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Positions of winnowing-selected fingerprints, fully vectorized O(n).

    Position i is selected iff h[i] equals the min of SOME w-window
    covering it, i.e. iff max_{j in covering range} sliding_min[j] ==
    h[i] (sliding_min[j] <= h[i] for every covering j, so only equality
    is possible at the max). The covering-range max is itself a sliding
    max over the sliding-min array, with prefix/suffix maxima at the
    boundaries — three linear passes total, no argsort, no Python loop.
    """
    n = len(hashes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= w:
        return np.array([int(np.argmin(hashes))], dtype=np.int64)
    m = _sliding_min(hashes, w)          # m[j] = min h[j..j+w-1], len n-w+1
    nm = len(m)
    cover_max = np.empty(n, dtype=hashes.dtype)
    pre = np.maximum.accumulate(m)                 # pre[t] = max m[0..t]
    suf = np.maximum.accumulate(m[::-1])[::-1]     # suf[t] = max m[t..]
    # left region i < w-1: j-range [0, min(i, nm-1)]
    li = np.minimum(np.arange(w - 1), nm - 1)
    cover_max[: w - 1] = pre[li]
    # right region i >= n-w+1: j-range [max(0, i-w+1), nm-1]
    ri = np.maximum(np.arange(n - w + 1, n) - (w - 1), 0)
    cover_max[n - w + 1 :] = suf[ri]
    # interior i in [w-1, n-w] (nonempty iff nm >= w): j-range [i-w+1, i]
    if nm >= w:
        cover_max[w - 1 : n - w + 1] = _sliding_max(m, w)
    return np.nonzero(cover_max == hashes)[0].astype(np.int64)


def fingerprint_table(df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, text) -> (id, fp_hash: long, pos: int) winnowed fingerprints.

    Normalized text is fingerprinted (so near-identical whitespace/case
    variants still match); positions are byte offsets into the utf-8
    encoding of the normalized string. mapInPandas emits the exploded
    rows directly from concatenated numpy arrays — no per-fingerprint
    Python objects (boxing 8M tuples measured ~10x the numpy cost).
    """
    k, w = cfg.substr_gram, cfg.winnow_window
    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("fp_hash", T.LongType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, poss = [], [], []
            for doc_id, s in zip(pdf["id"], pdf["_norm"]):
                if s is None:
                    continue
                data = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
                h = _rolling_hashes(data, k)
                sel = _winnow(h, w)
                if not len(sel):
                    continue
                hv = h[sel].view(np.int64)
                # one anchor per distinct hash within the doc
                _, first = np.unique(hv, return_index=True)
                first = np.sort(first)
                ids.append(np.full(len(first), doc_id, dtype=object))
                hashes.append(hv[first])
                poss.append(sel[first].astype(np.int32))
            if not ids:
                yield pd.DataFrame(
                    {"id": pd.Series([], dtype=str),
                     "fp_hash": pd.Series([], dtype=np.int64),
                     "pos": pd.Series([], dtype=np.int32)}
                )
                continue
            yield pd.DataFrame(
                {
                    "id": np.concatenate(ids),
                    "fp_hash": np.concatenate(hashes),
                    "pos": np.concatenate(poss),
                }
            )

    normed = df.select(
        F.col(id_col).cast("string").alias("id"),
        norm_text_col(text_col, cfg).alias("_norm"),
    )
    return normed.mapInPandas(run, schema=out_schema)


def substr_candidates(
    fp_df: DataFrame, cfg: DedupConfig, regime: Regime | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fingerprint table -> candidate pairs with match-anchor positions.

    Returns (pairs(a, b, pos_as, pos_bs, channel), hot_fp_stats). Hot
    fingerprints (> substr_bucket_cap docs — boilerplate) switch to star
    pairing against the min doc, logged to metrics.

    ``regime`` (barrier.Regime): the fingerprint table and join-back
    join its sweep. None (callers with no sweep to release) barriers the
    fingerprint table unreleased and, as in pairs_from_buckets, leaves
    the join-back lazy.
    """
    cap = cfg.substr_bucket_cap
    # The repartitioned fingerprint table feeds ~6 plan branches (sizes,
    # join-back, small x/y self-join, hot, hot_min). A bare Exchange here
    # canonicalizes identically for all of them, but AQE materializes
    # query-stage futures CONCURRENTLY, so each branch recomputes it —
    # event-log r4 at 2.76M turns: EIGHT copies of the 41.7M-row
    # fingerprint exchange (4.1 GB written, 333M records re-read, 820 s
    # of the hi rung's executor time). The eager barrier is the same
    # contract pairs_from_buckets documents for its bucket table. The
    # latency regime keeps a lazy cache instead: the rebuilt exchange is
    # cheaper there than the extra materialization action (VERDICT r4
    # item 1 A/B).
    fp = (regime or Regime(Barrier.for_run(cfg))).reused(fp_df.repartition("fp_hash"))
    # (id, fp_hash) is unique (per-doc hash dedupe in fingerprint_table),
    # so the row count per fp_hash equals the distinct-doc bucket size.
    # groupBy (map-side combine) + join-back, not a window — see lsh.py.
    # bsz >= 2: singleton fingerprints (the overwhelming majority on
    # real corpora — 7.26M of 7.37M at the 554k-turn rung) can never
    # pair; dropping them from the size table before the join-back
    # shrinks both join inputs to the pairable rows (same r6
    # optimization as pairs_from_buckets — identical output pairs).
    sizes = fp.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("bsz")) \
        .filter(F.col("bsz") >= 2)
    # Materialize the join-back ONCE for its four consumer legs (x/y
    # self-join, hot, hot_min) — same contract and rationale as
    # pairs_from_buckets: eager-only, released with the regime's sweep.
    # r6 rung iso (bench/iso_substr.py): 10.5 s -> 8.4 s for the
    # expansion, identical pairs — the pairable join-back is 1.9M rows vs
    # the 8.4M-row fingerprint table each leg previously re-joined.
    tagged = fp.join(sizes, "fp_hash")
    if regime is not None:
        tagged = regime.join_back(tagged)

    small = tagged.filter(F.col("bsz") <= cap).drop("bsz")
    x, y = small.alias("x"), small.alias("y")
    small_pairs = x.join(
        y,
        (F.col("x.fp_hash") == F.col("y.fp_hash"))
        & (F.col("x.id") < F.col("y.id")),
    ).select(
        F.col("x.id").alias("a"),
        F.col("y.id").alias("b"),
        F.col("x.pos").alias("pos_a"),
        F.col("y.pos").alias("pos_b"),
    )

    hot = tagged.filter(F.col("bsz") > cap)
    hot_min = hot.groupBy("fp_hash").agg(
        F.min_by(F.struct("id", "pos"), "id").alias("m")
    )
    hot_pairs = (
        hot.join(hot_min, "fp_hash")
        .filter(F.col("id") != F.col("m.id"))
        .select(
            F.col("m.id").alias("a"),
            F.col("id").alias("b"),
            F.col("m.pos").alias("pos_a"),
            F.col("pos").alias("pos_b"),
        )
    )

    anchors = small_pairs.unionByName(hot_pairs)
    # anchors kept in DETERMINISTIC order: collect_list order varies run to
    # run, so sort the (pos_a, pos_b) structs before slicing — a replayed
    # task or re-run keeps the same anchors and the same verdicts
    # (ADVICE.md r1). Pairs whose anchor count exceeds the cap carry
    # n_anchors so the pipeline can log the truncation — no silent caps.
    acap = cfg.max_anchors_per_pair
    pairs = (
        anchors.groupBy("a", "b")
        .agg(F.sort_array(F.collect_list(F.struct("pos_a", "pos_b"))).alias("anc"))
        .select(
            "a",
            "b",
            F.size("anc").alias("n_anchors"),
            F.transform(F.slice("anc", 1, acap), lambda x: x["pos_a"]).alias("pos_as"),
            F.transform(F.slice("anc", 1, acap), lambda x: x["pos_b"]).alias("pos_bs"),
        )
        .withColumn("channel", F.lit("substr"))
    )
    hot_stats = hot.groupBy("fp_hash").agg(F.max("bsz").alias("bucket_size"))
    return pairs, hot_stats


def _extend_span(ta: np.ndarray, tb: np.ndarray, pa: int, pb: int, k: int) -> int:
    """Maximal common span around an anchor window over uint8 arrays.

    Vectorized mismatch search — per-character Python loops cost ~1us/char,
    which matters when exact-duplicate documents extend to full length
    (a 10KB doc pair = 10k iterations per anchor)."""
    if pa + k > len(ta) or pb + k > len(tb):
        return 0
    if not (ta[pa : pa + k] == tb[pb : pb + k]).all():
        return 0
    m = min(pa, pb)
    if m:
        left = ta[pa - m : pa][::-1] != tb[pb - m : pb][::-1]
        nz = np.nonzero(left)[0]
        lo = int(nz[0]) if len(nz) else m
    else:
        lo = 0
    n = min(len(ta) - pa, len(tb) - pb) - k
    if n > 0:
        right = ta[pa + k : pa + k + n] != tb[pb + k : pb + k + n]
        nz = np.nonzero(right)[0]
        hi = int(nz[0]) if len(nz) else n
    else:
        hi = 0
    return lo + k + hi


_CHUNK = 256                      # bytes compared per vectorized scan round


def _first_mismatch(A: np.ndarray, B: np.ndarray, ia0: np.ndarray,
                    ib0: np.ndarray, limit: np.ndarray,
                    direction: int) -> np.ndarray:
    """Count of equal leading bytes for a BATCH of cursor pairs.

    Row r compares A[ia0[r] + direction*j] vs B[ib0[r] + direction*j]
    for j = 0..limit[r]-1 and returns the first-mismatch index (limit[r]
    if all equal). Chunked: each round is one O(active x _CHUNK) numpy
    comparison, so cost is bytes-compared with no per-row Python — the
    cross-pair vectorization of _extend_span (VERDICT.md r3 item 6).
    Out-of-range probes are clip-indexed and masked invalid (callers
    bound `limit` to stay inside each row's document, so clipped reads
    never affect results).
    """
    n = len(ia0)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    active = limit > 0
    maxA, maxB = max(len(A) - 1, 0), max(len(B) - 1, 0)
    j_rel = np.arange(_CHUNK)
    offset = 0
    while active.any():
        rows = np.nonzero(active)[0]
        j = offset + j_rel
        ia = ia0[rows, None] + direction * j
        ib = ib0[rows, None] + direction * j
        valid = j < limit[rows, None]
        eq = (A[np.clip(ia, 0, maxA)] == B[np.clip(ib, 0, maxB)]) & valid
        mm = ~eq
        first = np.where(mm.any(axis=1), mm.argmax(axis=1), _CHUNK)
        out[rows] = offset + np.minimum(first, limit[rows] - offset)
        offset += _CHUNK
        active[rows] = (first == _CHUNK) & (limit[rows] > offset)
    return out


def _span_lens_batch(enc_a: list[bytes], enc_b: list[bytes],
                     pa_lists: list, pb_lists: list,
                     k: int, min_len: int) -> np.ndarray:
    """Batched maximal-span measurement over candidate pairs.

    Semantics identical to looping _extend_span over each pair's anchors
    with early-break at min_len (the anchor-round structure preserves
    that break, so reported lengths match the scalar path byte for
    byte); execution is flat-array numpy across ALL pairs in the batch —
    per-anchor rounds of _first_mismatch — so Python cost is O(pairs)
    bookkeeping, not O(bytes scanned) (VERDICT.md r3 item 6).
    """
    n = len(enc_a)
    best = np.zeros(n, dtype=np.int64)
    if n == 0:
        return best
    la = np.fromiter((len(x) for x in enc_a), np.int64, n)
    lb = np.fromiter((len(x) for x in enc_b), np.int64, n)
    offA = np.zeros(n, np.int64)
    offA[1:] = la.cumsum()[:-1]
    offB = np.zeros(n, np.int64)
    offB[1:] = lb.cumsum()[:-1]
    A = np.frombuffer(b"".join(enc_a), np.uint8)
    B = np.frombuffer(b"".join(enc_b), np.uint8)
    cnt = np.fromiter((len(x) for x in pa_lists), np.int64, n)
    m = int(cnt.max()) if n else 0
    PA = np.zeros((n, m), np.int64)
    PB = np.zeros((n, m), np.int64)
    for i in range(n):                       # padding only — no byte work
        c = cnt[i]
        if c:
            PA[i, :c] = np.asarray(pa_lists[i], np.int64)
            PB[i, :c] = np.asarray(pb_lists[i], np.int64)
    done = np.zeros(n, bool)
    for j in range(m):
        # anchor round j: pairs not yet past min_len try their j-th anchor
        rows = np.nonzero(~done & (cnt > j))[0]
        if not len(rows):
            break
        pa, pb = PA[rows, j], PB[rows, j]
        ra, rb = la[rows], lb[rows]
        ok = (pa + k <= ra) & (pb + k <= rb)
        ia, ib = offA[rows] + pa, offB[rows] + pb
        kmatch = _first_mismatch(A, B, ia, ib, np.where(ok, k, 0), 1)
        ok &= kmatch == k
        lo = _first_mismatch(A, B, ia - 1, ib - 1,
                             np.where(ok, np.minimum(pa, pb), 0), -1)
        lim_r = np.maximum(np.minimum(ra - pa, rb - pb) - k, 0)
        hi = _first_mismatch(A, B, ia + k, ib + k,
                             np.where(ok, lim_r, 0), 1)
        best[rows] = np.maximum(best[rows], np.where(ok, lo + k + hi, 0))
        done = best >= min_len
    return best


def verify_substr(pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str,
                  cfg: DedupConfig, regime: Regime | None = None) -> DataFrame:
    """V4: exact span measurement for substring candidates.

    pairs must carry (a, b, pos_as, pos_bs). Output adds substr_len and
    verdict = (max span over anchors) >= min_substr_len.
    ``regime`` (barrier.Regime): the pair and text tables join its sweep,
    for the caller to release once the output has materialized (VERDICT.md
    r3 item 5); None runs them through an eager regime nobody releases.
    The latency regime keeps the pruned text table a lazily-cached
    semi-join — no repartition exchange, no barrier. At that scale both
    hydration joins broadcast the (tiny) pruned table and the two
    broadcast subtrees canonicalize identically, so one build serves
    both; the eager barrier + explicit hash layout only pay off once the
    pruned table is big enough to sort-merge (same scale-adaptive split
    as verify_jaccard_hamming). Output rows identical either way.
    """
    k, min_len = cfg.substr_gram, cfg.min_substr_len
    regime = regime or Regime(Barrier.for_run(cfg))
    # The normalized-text table is the fattest thing this stage touches
    # (~= corpus bytes), and a computed Alias (norm_text_col) breaks
    # canonical exchange reuse between the two join branches — naively
    # Spark ships the WHOLE corpus through the shuffle twice (event-log
    # measured 2 x 478 MB on the 554k-turn bench). Two fixes compose:
    #   1. only docs that actually appear in a candidate pair need text —
    #      a semi-join prunes the table to the candidate-touched subset
    #      (bounds cache/shuffle by candidates, not corpus; a 6g 1-core
    #      executor OOM'd at 2.76M turns caching the full corpus);
    #   2. hash-partition by id once and materialize the post-shuffle
    #      layout so both joins consume its partitioning — one pruned
    #      exchange total, and when the pruned table measures under the
    #      broadcast threshold, no exchange of the pair rows either.
    # the pair table feeds the id prune and both hydration joins: eager
    # runs materialize it (one leaf to plan over, as in
    # verify_jaccard_hamming), latency runs keep a lazy cache
    pairs = regime.reused(pairs)
    # one explode scan, not a two-branch union: under AQE the union legs
    # materialize as separate query-stage futures, each re-executing the
    # uncached candidate chain (r6 event-log job swarm)
    pair_ids = pairs.select(F.explode(F.array("a", "b")).alias("id")).distinct()
    if not regime.eager:
        # latency mode (n_docs < eager_barrier_min_docs): the distinct
        # pair-id set is bounded by the corpus (< 25k short strings) —
        # broadcast it so the prune is a map-side semi-join instead of a
        # sort-merge that exchanges + sorts the whole corpus text at the
        # narrow latency shuffle width (guide §3; r6 live transcript plan)
        pair_ids = F.broadcast(pair_ids)
    normed = docs.select(
        F.col(id_col).cast("string").alias("id"),
        norm_text_col(text_col, cfg).alias("t"),
    ).join(pair_ids, "id", "left_semi")
    if regime.eager:
        normed = normed.repartition("id")
    normed = regime.reused(normed)
    # the barrier measured it; a latency-mode cache is unmeasured and
    # declines (Catalyst broadcasts it on its own at that size)
    n_side = F.broadcast(normed) if fits_broadcast(normed) else normed
    # the span-extension UDF below is CPU-bound: in latency mode the
    # NARROW pair rows (ids + anchor offset arrays, a few MB) re-spread
    # to the core count before the text attaches, so the compute stage
    # uses every slot instead of the ~8-wide derived width (r6)
    h_pairs = regime.spread(pairs)
    h = (
        h_pairs.join(n_side, h_pairs["a"] == n_side["id"]).drop("id")
        .withColumnRenamed("t", "t_a")
    )
    nb = n_side.alias("nb")
    h = h.join(nb, h["b"] == nb["id"]).drop("id").withColumnRenamed("t", "t_b")

    @pandas_udf(T.IntegerType())
    def span_len(ta: pd.Series, tb: pd.Series, pas: pd.Series, pbs: pd.Series) -> pd.Series:
        # anchor positions are byte offsets into the utf-8 encoding
        # (matching fingerprint_table) — compare bytes, not chars. The
        # whole Arrow batch extends through one flat-array numpy kernel
        # (_span_lens_batch); outputs equal the per-pair scalar loop.
        enc_a = [(s or "").encode("utf-8") for s in ta]
        enc_b = [(s or "").encode("utf-8") for s in tb]
        best = _span_lens_batch(enc_a, enc_b, list(pas), list(pbs), k, min_len)
        return pd.Series(best.astype(np.int32))

    return (
        h.withColumn("substr_len", span_len("t_a", "t_b", "pos_as", "pos_bs"))
        .drop("t_a", "t_b", "pos_as", "pos_bs")
        .withColumn("verdict", F.col("substr_len") >= min_len)
    )


def exact_substr_within_groups(
    docs: DataFrame, id_col: str, text_col: str, group_col: str, cfg: DedupConfig,
    recorder=None,
) -> DataFrame:
    """Corpus-level duplicate-span EXTRACTION per group (Lee et al. ACL'22
    use-case) via a grouped-map suffix array: applyInPandas builds a
    concatenated suffix array per group and emits every cross-document
    span >= L. Candidate *generation* across groups still comes from the
    winnowed fingerprint channel, so this is an exact per-group extractor
    (group by e.g. lang/source/bucketed prefix), not the recall path.

    Giant-group guard: a group is ONE applyInPandas task, so grouping by
    e.g. lang at corpus scale would concatenate gigabytes into one Python
    worker. Groups whose summed normalized bytes exceed
    ``cfg.substr_group_byte_budget`` are sub-bucketed by doc-id hash
    (pmod(xxhash64(id), ceil(bytes/budget))); spans are then exact within
    each sub-bucket. Cross-sub-bucket spans of oversized groups are not
    extracted here — the fingerprint channel remains the recall path —
    and every split group reaches ``recorder`` (and the pipeline metrics
    table) as a truncation event: no silent caps.
    """
    min_len = cfg.min_substr_len
    budget = cfg.substr_group_byte_budget
    out_schema = T.StructType(
        [
            T.StructField("a", T.StringType(), False),
            T.StructField("b", T.StringType(), False),
            T.StructField("substr_len", T.IntegerType(), False),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        texts = dict(zip(pdf["_id"].astype(str), pdf["_norm"].fillna("")))
        spans = duplicate_spans_local(texts, min_len)
        return pd.DataFrame(spans, columns=["a", "b", "substr_len"])

    normed = docs.select(
        F.col(group_col).alias("_grp"),
        F.col(id_col).cast("string").alias("_id"),
        norm_text_col(text_col, cfg).alias("_norm"),
    )
    # per-group byte sizes via groupBy (map-side combine) + join-back —
    # same skew-safe shape as pairs_from_buckets, never a window
    sizes = normed.groupBy("_grp").agg(
        F.sum(F.octet_length("_norm")).alias("_bytes")
    )
    n_split = F.greatest(F.ceil(F.col("_bytes") / budget), F.lit(1))
    tagged = normed.join(sizes, "_grp").withColumn(
        "_sub",
        F.when(
            F.col("_bytes") > budget,
            F.pmod(F.xxhash64("_id", F.lit(cfg.seed)), n_split),
        ).otherwise(F.lit(0)),
    )
    if recorder is not None:
        over = sizes.filter(F.col("_bytes") > budget)
        recorder.metric(
            "exact_substr_within_groups", "groups_sub_bucketed", over.count()
        )
        recorder.metric(
            "exact_substr_within_groups",
            "max_group_bytes",
            (over.agg(F.max("_bytes")).first()[0] or 0),
        )
    return (
        tagged.drop("_bytes")
        .groupBy("_grp", "_sub")
        .applyInPandas(run, schema=out_schema)
    )


# ----------------------------------------------------------------------
# Partition-local suffix array (numpy prefix doubling) — test oracle and
# duplicate-span extractor (applyInPandas), SURVEY.md §2.4 G7.
# ----------------------------------------------------------------------

def suffix_array(data: np.ndarray) -> np.ndarray:
    """Suffix array of a uint8 array via prefix doubling, O(n log^2 n)."""
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = data.astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        sa = order
        tmp[sa[0]] = 0
        prev = sa[:-1]
        cur = sa[1:]
        newg = (rank[cur] != rank[prev]) | (key2[cur] != key2[prev])
        tmp[cur] = np.cumsum(newg)
        rank = tmp.copy()
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    return sa.astype(np.int64)


def _lcp_len(data: np.ndarray, i: int, j: int, cap: int = 1 << 20) -> int:
    n = len(data)
    m = min(n - i, n - j, cap)
    if m <= 0:
        return 0
    a = data[i : i + m]
    b = data[j : j + m]
    neq = np.nonzero(a != b)[0]
    return int(neq[0]) if len(neq) else m


def duplicate_spans_local(texts: dict[str, str], min_len: int) -> list[tuple[str, str, int]]:
    """Exact cross-document duplicate spans >= min_len within one group:
    concatenated suffix array + adjacent-suffix LCP scan (Lee et al. '22)
    PLUS run closure. Returns (doc_a, doc_b, span_len) per unordered doc
    pair. Used as the exactness oracle for the fingerprint channel.

    Run closure matters for pair-set exactness: when 3+ documents share
    one span, the adjacent scan alone emits only SA-neighbor pairs
    (A,B), (B,C) and silently misses the equally-true (A,C) — the
    channel (correctly) finds it and a truth set built from adjacents
    charges it as a false positive (round-5 sf0.1 audit, precision
    0.954 with every "spurious" pair real). Within a maximal SA run
    whose adjacent doc-end-capped LCPs are all >= min_len, every
    suffix shares the same first-min_len in-doc characters (LCP of any
    two = min over adjacents; a suffix lexicographically between two
    that share an in-doc >= min_len prefix carries that prefix in-doc
    too, so the caps cannot break the run), hence EVERY doc pair in
    the run is a true pair. Adjacent pairs keep their exact max span;
    closure-only pairs report the run minimum — a genuine shared-span
    length, conservative for the pair's true maximum.
    """
    ids, offsets, parts = [], [], []
    off = 0
    for did, t in sorted(texts.items()):
        b = t.encode("utf-8")
        ids.append(did)
        offsets.append(off)
        parts.append(np.frombuffer(b, dtype=np.uint8))
        parts.append(np.zeros(1, dtype=np.uint8))  # separator \x00
        off += len(b) + 1
    data = np.concatenate(parts) if parts else np.empty(0, dtype=np.uint8)
    sa = suffix_array(data)
    bounds = np.array(offsets + [len(data)], dtype=np.int64)
    owner = np.searchsorted(bounds, sa, side="right") - 1
    best: dict[tuple[str, str], int] = {}

    def note(oa: int, ob: int, length: int) -> None:
        if oa == ob:
            return
        key = (ids[min(oa, ob)], ids[max(oa, ob)])
        if best.get(key, 0) < length:
            best[key] = length

    run_owners: set[int] = set()
    run_min = 0

    def close_run() -> None:
        nonlocal run_owners, run_min
        if len(run_owners) > 1:
            members = sorted(run_owners)
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    note(members[x], members[y], run_min)
        run_owners = set()
        run_min = 0

    for t in range(1, len(sa)):
        i, j = int(sa[t - 1]), int(sa[t])
        oi, oj = int(owner[t - 1]), int(owner[t])
        l = _lcp_len(data, i, j)
        # cap at each suffix's own document end: the \x00 separators all
        # equal each other, so an uncapped LCP chains matches across
        # document boundaries and fabricates impossible spans
        l = min(l, int(bounds[oi + 1]) - 1 - i, int(bounds[oj + 1]) - 1 - j)
        if l >= min_len:
            note(oi, oj, l)  # exact span for the adjacent pair
            if not run_owners:
                run_owners = {oi, oj}
                run_min = l
            else:
                run_owners.add(oj)
                run_min = min(run_min, l)
        else:
            close_run()
    close_run()
    return [(a, b, l) for (a, b), l in sorted(best.items())]


def duplicate_span_positions_local(
    texts: dict[str, str], min_len: int
) -> list[tuple[str, int, int]]:
    """Removal spans (doc_id, start, end) in CHAR offsets — the
    positional twin of duplicate_spans_local, feeding spans.remove_spans.

    Policy (keep-SA-first): suffixes sharing a >= min_len prefix form a
    contiguous suffix-array block; the block's FIRST occurrence (its
    lexicographically-smallest suffix) survives, and every occurrence
    from a DIFFERENT doc is marked [pos, pos + pairwise_lcp). Chained
    marks compose like Lee et al.'s one-survivor rule: content repeated
    across k docs keeps exactly one intact copy (possibly split across
    survivors when repeats nest). Intra-doc repeats are left alone —
    this channel dedupes across documents.

    Texts are indexed as code points (not utf-8 bytes) so the emitted
    offsets match Spark's char-based substring in remove_spans.
    """
    ids, offsets, parts = [], [], []
    off = 0
    for did, t in sorted(texts.items()):
        cp = np.array([ord(c) + 1 for c in t], dtype=np.int64)
        ids.append(did)
        offsets.append(off)
        parts.append(cp)
        parts.append(np.zeros(1, dtype=np.int64))  # separator, sorts lowest
        off += len(cp) + 1
    data = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    sa = suffix_array(data)
    bounds = np.array(offsets + [len(data)], dtype=np.int64)
    owner = np.searchsorted(bounds, sa, side="right") - 1
    spans: list[tuple[str, int, int]] = []
    block_owner = -1
    for t in range(1, len(sa)):
        i, j = int(sa[t - 1]), int(sa[t])
        oi, oj = int(owner[t - 1]), int(owner[t])
        l = _lcp_len(data, i, j)
        l = min(l, int(bounds[oi + 1]) - 1 - i, int(bounds[oj + 1]) - 1 - j)
        if l < min_len:
            block_owner = -1
            continue
        if block_owner < 0:
            block_owner = oi
        if oj != block_owner:
            pos = j - int(bounds[oj])
            spans.append((ids[oj], pos, pos + l))
    # every suffix inside a repeat emits its own overlapping mark
    # (O(repeat_len) spans); merge locally so the shuffled span table is
    # O(repeats), not O(repeated chars) — remove_spans re-merges anyway
    merged: list[tuple[str, int, int]] = []
    for did, s, e in sorted(spans):
        if merged and merged[-1][0] == did and s <= merged[-1][2]:
            if e > merged[-1][2]:
                merged[-1] = (did, merged[-1][1], e)
        else:
            merged.append((did, s, e))
    return merged


def removal_spans_within_groups(
    docs: DataFrame, id_col: str, text_col: str, group_col: str,
    cfg: DedupConfig, recorder=None,
) -> DataFrame:
    """Positional removal spans (id, start, end) per group — the span
    table spans.remove_spans consumes. Offsets index ``text_col`` AS
    GIVEN (no normalization here: the removal rewrite must target the
    column whose offsets these are; normalize upstream if desired).

    Same giant-group guard as exact_substr_within_groups: groups over
    ``cfg.substr_group_byte_budget`` normalized bytes sub-bucket by doc
    hash (exact within sub-buckets, truncation recorded — no silent
    caps).
    """
    min_len = cfg.min_substr_len
    budget = cfg.substr_group_byte_budget
    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        texts = dict(zip(pdf["_id"].astype(str), pdf["_raw"].fillna("")))
        spans = duplicate_span_positions_local(texts, min_len)
        return pd.DataFrame(spans, columns=["id", "start", "end"])

    tagged = docs.select(
        F.col(group_col).alias("_grp"),
        F.col(id_col).cast("string").alias("_id"),
        F.col(text_col).alias("_raw"),
    )
    sizes = tagged.groupBy("_grp").agg(
        F.sum(F.octet_length("_raw")).alias("_bytes")
    )
    n_split = F.greatest(F.ceil(F.col("_bytes") / budget), F.lit(1))
    tagged = tagged.join(sizes, "_grp").withColumn(
        "_sub",
        F.when(
            F.col("_bytes") > budget,
            F.pmod(F.xxhash64("_id", F.lit(cfg.seed)), n_split),
        ).otherwise(F.lit(0)),
    )
    if recorder is not None:
        over = sizes.filter(F.col("_bytes") > budget)
        recorder.metric(
            "removal_spans_within_groups", "groups_sub_bucketed", over.count()
        )
    return (
        tagged.drop("_bytes")
        .groupBy("_grp", "_sub")
        .applyInPandas(run, schema=out_schema)
    )


def substr_cross_candidates(
    fp_train: DataFrame,
    fp_eval: DataFrame,
    cfg: DedupConfig,
    eval_fp_cap: int = 8,
    broadcast_eval: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """A x B fingerprint pairing for DECONTAMINATION: candidates are
    (train doc, eval doc) sharing a winnowed fingerprint — never a pair
    within either corpus (so a 10^12-turn training set never self-joins
    here; self-dedup is the substr channel's job).

    Hot handling differs from the self-join on purpose: the TRAIN side
    is never capped — a boilerplate fingerprint hitting 10^6 training
    docs must flag all 10^6 (the output IS the flag set, so pair volume
    is bounded by the answer size). The EVAL side caps at
    ``eval_fp_cap`` deterministic min-id entries per fingerprint (a
    train doc only needs ONE matching eval doc to be contaminated;
    extra eval witnesses only add evidence). Capped fingerprints are
    returned as stats — no silent caps.

    ``broadcast_eval``: eval/benchmark sets are tiny next to a training
    corpus, so broadcasting their fingerprint table turns the candidate
    join into a map-side hash join — the training fingerprints are
    scanned once and NEVER shuffled, the decontamination pass costs one
    corpus scan plus verify on flagged pairs.
    """
    acap = cfg.max_anchors_per_pair
    grouped = (
        fp_eval.groupBy("fp_hash")
        .agg(F.sort_array(F.collect_list(F.struct("id", "pos"))).alias("es"))
        .select(
            "fp_hash",
            F.size("es").alias("n_eval"),
            F.explode(F.slice("es", 1, eval_fp_cap)).alias("e"),
        )
        .select("fp_hash", "n_eval", F.col("e.id").alias("b"),
                F.col("e.pos").alias("pos_b"))
    )
    capped_stats = (
        grouped.filter(F.col("n_eval") > eval_fp_cap)
        .groupBy("fp_hash").agg(F.max("n_eval").alias("bucket_size"))
    )
    eval_side = grouped.drop("n_eval")
    if broadcast_eval:
        eval_side = F.broadcast(eval_side)
    anchors = fp_train.join(eval_side, "fp_hash").select(
        F.col("id").alias("a"), "b",
        F.col("pos").alias("pos_a"), "pos_b",
    )
    pairs = (
        anchors.groupBy("a", "b")
        .agg(F.sort_array(F.collect_list(F.struct("pos_a", "pos_b"))).alias("anc"))
        .select(
            "a", "b",
            F.size("anc").alias("n_anchors"),
            F.transform(F.slice("anc", 1, acap), lambda x: x["pos_a"]).alias("pos_as"),
            F.transform(F.slice("anc", 1, acap), lambda x: x["pos_b"]).alias("pos_bs"),
        )
        .withColumn("channel", F.lit("substr_cross"))
    )
    return pairs, capped_stats


def substr_decontaminate(
    train: DataFrame,
    train_id: str,
    train_text: str,
    evals: DataFrame,
    eval_id: str,
    eval_text: str,
    cfg: DedupConfig,
    eval_fp_cap: int = 8,
    broadcast_eval: bool = True,
    scratch: list | None = None,
) -> DataFrame:
    """Cross-corpus substring decontamination (the Lee et al. ACL'22 /
    GPT-3-appendix use-case): flag every training doc sharing an exact
    >= min_substr_len-char span of normalized text with any eval/
    benchmark doc. Output (train_id, eval_id, substr_len, verdict) —
    verdict rows are the contaminated (train, eval) evidence pairs.

    Reuses the channel machinery end-to-end: winnowed fingerprints on
    both corpora (no false negatives >= L), A x B candidate join
    (broadcast eval side), exact anchor-extension verification against
    a prefix-disambiguated union of both corpora's texts ("T|"/"E|" ids
    keep hydration single-table so verify_substr applies unchanged).
    """
    fpt = fingerprint_table(train, train_id, train_text, cfg)
    fpe = fingerprint_table(evals, eval_id, eval_text, cfg)
    pairs, _capped = substr_cross_candidates(
        fpt, fpe, cfg, eval_fp_cap=eval_fp_cap, broadcast_eval=broadcast_eval
    )
    prefixed = pairs.withColumn("a", F.concat(F.lit("T|"), F.col("a"))) \
                    .withColumn("b", F.concat(F.lit("E|"), F.col("b")))
    docs_all = train.select(
        F.concat(F.lit("T|"), F.col(train_id).cast("string")).alias("uid"),
        F.col(train_text).alias("utext"),
    ).unionByName(
        evals.select(
            F.concat(F.lit("E|"), F.col(eval_id).cast("string")).alias("uid"),
            F.col(eval_text).alias("utext"),
        )
    )
    regime = Regime(Barrier.for_run(cfg))
    verified = verify_substr(prefixed, docs_all, "uid", "utext", cfg, regime)
    out = verified.select(
        F.expr("substring(a, 3)").alias("train_id"),
        F.expr("substring(b, 3)").alias("eval_id"),
        "substr_len", "verdict",
    )
    if scratch is not None:
        scratch.extend(regime.sweep)
        return out
    # materialize before releasing the frames verify_substr holds
    out = regime.barrier(out)
    regime.release()
    return out
