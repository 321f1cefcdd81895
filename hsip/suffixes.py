"""G7/V4 — long exact-substring duplicate channel.

Goal (Lee et al., ACL 2022 "Deduplicating Training Data Makes Language
Models Better", ExactSubstr): find document pairs sharing a contiguous
span of >= L characters. The reference method is a corpus-level suffix
array — inherently sequential/global. The Spark-first re-expression here
is *winnowed content-defined fingerprinting* (Schleimer, Wilkerson,
Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
SIGMOD 2003):

 1. Per document (one numpy pass over each mapInArrow batch's utf-8
    buffer): Rabin-Karp rolling hashes of every k_sa-char window
    (k_sa = L - w + 1), then winnowing — keep the minimum hash in each
    window of w consecutive hashes.
    Winnowing's guarantee theorem: any common substring of length
    >= k_sa + w - 1 = L shares at least one *selected* fingerprint, so
    the channel has no false negatives at threshold L.
 2. Shuffle on fingerprint hash; same-bucket docs pair up (LSH's own
    bucket expansion, lsh._bucket_legs, with hot-fingerprint capping for
    boilerplate — capped buckets are logged, never silently dropped).
 3. Verify (V4): re-check candidate pairs against the real texts —
    extend the anchor match left/right to measure the true maximal
    common span; verdict = span >= L. Exact, no hash trust.

A partition-local suffix array (numpy prefix-doubling, suffix_array())
is also provided and used in tests as the correctness oracle for the
fingerprint channel, and exposed as ``exact_substr_within_groups``
(applyInPandas) for corpus-level duplicate-span *extraction* — the
ACL'22 use-case — where candidate generation still comes from step 2 so
cross-group duplicates are never missed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from .arrowbuf import list_views, ragged, utf8_views
from .barrier import Regime
from .config import DedupConfig
from .lsh import _bucket_legs
from .normalize import norm_text_col
from .verify import hydrate

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


def _sliding(h: np.ndarray, w: int, op: np.ufunc) -> np.ndarray:
    """O(n) sliding-window extremum, ``op`` = np.minimum or np.maximum (van
    Herk / Gil-Werman): block prefix and suffix extrema combine into any
    window's — independent of w. (sliding_window_view(...).min() is
    O(n*w): ~3,000 CPU-s at w=100 on a 427MB corpus; this is ~3 passes
    over the data.) The last block is padded with h[-1]: ``op`` is
    idempotent and every window reaching the pad already holds h[-1]."""
    n = len(h)
    nb = -(-n // w)
    pad = nb * w - n
    hp = np.concatenate([h, np.full(pad, h[-1], dtype=h.dtype)]) if pad else h
    blocks = hp.reshape(nb, w)
    fwd = op.accumulate(blocks, axis=1).ravel()
    bwd = op.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return op(bwd[: n - w + 1], fwd[w - 1 : n])


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
    m = _sliding(hashes, w, np.minimum)  # m[j] = min h[j..j+w-1], len n-w+1
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
        cover_max[w - 1 : n - w + 1] = _sliding(m, w, np.maximum)
    return np.nonzero(cover_max == hashes)[0].astype(np.int64)


def fingerprint_table(df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, text) -> (id, fp_hash: long, pos: int) winnowed fingerprints.

    Normalized text is fingerprinted (so near-identical whitespace/case
    variants still match; NULL text as "", which has none); positions are
    byte offsets into the utf-8 encoding of the normalized string.
    mapInArrow reads each batch's utf-8 buffer as numpy and emits the
    exploded rows directly from concatenated numpy arrays — no
    per-fingerprint Python objects (boxing 8M tuples measured ~10x the
    numpy cost).
    """
    k, w = cfg.substr_gram, cfg.winnow_window
    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("fp_hash", T.LongType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            offsets, data = utf8_views(batch.column(1))
            hashes, poss = [], []
            for i in range(batch.num_rows):
                h = _rolling_hashes(data[offsets[i]:offsets[i + 1]], k)
                sel = _winnow(h, w)
                hv = h[sel].view(np.int64)
                # one anchor per distinct hash within the doc
                _, first = np.unique(hv, return_index=True)
                first = np.sort(first)
                hashes.append(hv[first])
                poss.append(sel[first].astype(np.int32))
            fp_hash, counts = ragged(hashes, np.int64)
            rows = np.repeat(np.arange(batch.num_rows), counts)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(rows)), pa.array(fp_hash),
                 pa.array(ragged(poss, np.int32)[0])],
                names=["id", "fp_hash", "pos"],
            )

    normed = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.coalesce(norm_text_col(text_col, cfg), F.lit("")).alias("_norm"),
    )
    return normed.mapInArrow(run, schema=out_schema)


def substr_candidates(
    fp_df: DataFrame, cfg: DedupConfig, regime: Regime,
    hot_counts: Observation | None = None,
    truncated: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fingerprint table -> candidate pairs with match-anchor positions.

    Returns (pairs(a, b, n_anchors, pos_as, pos_bs, channel),
    hot_fp_stats). The expansion is pairs_from_buckets' own
    (lsh._bucket_legs) without its dedupe: hot fingerprints
    (> substr_bucket_cap docs — boilerplate) switch to star pairing
    against the min doc, logged to metrics, and every (pair, fingerprint)
    row is a match anchor for _anchor_pairs.

    ``regime`` (barrier.Regime): the fingerprint table and join-back
    join its sweep.

    ``hot_counts`` / ``truncated`` (metrics.Recorder observations) receive
    the number of hot fingerprints and of pairs whose anchors exceed
    ``max_anchors_per_pair``, from whatever action first runs the pairs.
    """
    # The repartitioned fingerprint table feeds ~6 plan branches (sizes,
    # join-back, small x/y self-join, hot, hot_min). A bare Exchange here
    # canonicalizes identically for all of them, but AQE materializes
    # query-stage futures CONCURRENTLY, so each branch recomputes it —
    # event-log r4 at 2.76M turns: EIGHT copies of the 41.7M-row
    # fingerprint exchange (4.1 GB written, 333M records re-read, 820 s
    # of the hi rung's executor time). The barrier is the same contract
    # pairs_from_buckets documents for its bucket table.
    fp = regime.reused(fp_df.repartition("fp_hash"))
    # (id, fp_hash) is unique (per-doc hash dedupe in fingerprint_table),
    # so a bucket's row count is its distinct-doc size, and each row of
    # the shared expansion is one (pair, fingerprint) match anchor.
    anchors, hot_stats = _bucket_legs(
        fp, cfg.substr_bucket_cap, bucket_cols=("fp_hash",), channel="substr",
        payload_cols=("pos",), regime=regime,
        hot_counts=None if hot_counts is None else {"substr": hot_counts},
    )
    acap = cfg.max_anchors_per_pair
    pairs = _anchor_pairs(anchors, acap, "substr")
    if truncated is not None:
        pairs = pairs.observe(
            truncated, F.count_if(F.col("n_anchors") > acap).alias("truncated"))
    return pairs, hot_stats


def _anchor_pairs(anchors: DataFrame, acap: int, channel: str) -> DataFrame:
    """(a, b, pos_a, pos_b) anchor rows -> one (a, b, n_anchors, pos_as,
    pos_bs, channel) row per pair, keeping the ``acap`` smallest anchors.

    Anchors are kept in DETERMINISTIC order: collect_list order varies run
    to run, so sort the (pos_a, pos_b) structs before slicing — a replayed
    task or re-run keeps the same anchors and the same verdicts (ADVICE.md
    r1). Pairs whose anchor count exceeds the cap carry n_anchors so the
    pipeline can log the truncation — no silent caps."""
    return (
        anchors.groupBy("a", "b")
        .agg(F.sort_array(F.collect_list(F.struct("pos_a", "pos_b"))).alias("anc"))
        .select(
            "a",
            "b",
            F.size("anc").alias("n_anchors"),
            F.transform(F.slice("anc", 1, acap), lambda x: x["pos_a"]).alias("pos_as"),
            F.transform(F.slice("anc", 1, acap), lambda x: x["pos_b"]).alias("pos_bs"),
        )
        .withColumn("channel", F.lit(channel))
    )


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


def _span_lens_batch(ta: pa.Array, tb: pa.Array, pas: pa.Array, pbs: pa.Array,
                     k: int, min_len: int) -> np.ndarray:
    """Batched maximal-span measurement over candidate pairs: texts
    ``ta``/``tb`` (string arrays) and anchor byte offsets ``pas``/``pbs``
    (list<int> arrays), one row per pair.

    Semantics identical to looping _extend_span over each pair's anchors
    with early-break at min_len (the anchor-round structure preserves
    that break, so reported lengths match the scalar path byte for
    byte); execution is flat-array numpy across ALL pairs in the batch —
    per-anchor rounds of _first_mismatch over the Arrow data buffers —
    so Python cost is O(max anchors) bookkeeping, not O(bytes scanned)
    (VERDICT.md r3 item 6).
    """
    offA, A = utf8_views(ta)
    offB, B = utf8_views(tb)
    PA, cnt = list_views(pas)
    PB, _ = list_views(pbs)
    n = len(cnt)
    best = np.zeros(n, dtype=np.int64)
    la, lb = np.diff(offA), np.diff(offB)
    first = np.zeros(n, dtype=np.int64)   # each pair's first anchor in PA/PB
    np.cumsum(cnt[:-1], out=first[1:])
    done = np.zeros(n, bool)
    for j in range(int(cnt.max()) if n else 0):
        # anchor round j: pairs not yet past min_len try their j-th anchor
        rows = np.nonzero(~done & (cnt > j))[0]
        if not len(rows):
            break
        pa_, pb_ = PA[first[rows] + j].astype(np.int64), PB[first[rows] + j].astype(np.int64)
        ra, rb = la[rows], lb[rows]
        ok = (pa_ + k <= ra) & (pb_ + k <= rb)
        ia, ib = offA[rows] + pa_, offB[rows] + pb_
        kmatch = _first_mismatch(A, B, ia, ib, np.where(ok, k, 0), 1)
        ok &= kmatch == k
        lo = _first_mismatch(A, B, ia - 1, ib - 1,
                             np.where(ok, np.minimum(pa_, pb_), 0), -1)
        lim_r = np.maximum(np.minimum(ra - pa_, rb - pb_) - k, 0)
        hi = _first_mismatch(A, B, ia + k, ib + k,
                             np.where(ok, lim_r, 0), 1)
        best[rows] = np.maximum(best[rows], np.where(ok, lo + k + hi, 0))
        done = best >= min_len
    return best


def verify_substr(pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str,
                  cfg: DedupConfig, regime: Regime) -> DataFrame:
    """V4: exact span measurement for substring candidates.

    pairs must carry (a, b, pos_as, pos_bs). Output adds substr_len and
    verdict = (max span over anchors) >= min_substr_len.
    ``regime`` (barrier.Regime): the pair and text tables join its sweep,
    for the caller to release once the output has materialized (VERDICT.md
    r3 item 5); the text hydration's broadcast decision is
    ``regime.hydration["verify_substr"]``.
    """
    k, min_len = cfg.substr_gram, cfg.min_substr_len
    # The normalized-text table is the fattest thing this stage touches
    # (~= corpus bytes): verify.hydrate prunes it to the candidate-touched
    # docs and ships it once, or broadcasts it when it measures small.
    # The pair table feeds the id prune and both hydration joins, so it
    # is materialized once (one leaf to plan over, as in
    # verify_jaccard_hamming).
    normed = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.coalesce(norm_text_col(text_col, cfg), F.lit("")).alias("t"),
    )
    h = hydrate(regime.reused(pairs), normed, ["t"], regime, "verify_substr")

    @arrow_udf(T.IntegerType())
    def span_len(ta: pa.Array, tb: pa.Array, pas: pa.Array, pbs: pa.Array) -> pa.Array:
        # anchor positions are byte offsets into the utf-8 encoding
        # (matching fingerprint_table) — compare bytes, not chars. The
        # whole Arrow batch extends through one flat-array numpy kernel
        # (_span_lens_batch); outputs equal the per-pair scalar loop.
        return pa.array(_span_lens_batch(ta, tb, pas, pbs, k, min_len).astype(np.int32))

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
    and the split groups reach ``recorder`` (metrics.Recorder; the
    pipeline metrics table) as truncation counts: no silent caps. They are
    observed, so they land once an action has run the output and the
    recorder's ``collect_observed`` reads them.
    """
    min_len = cfg.min_substr_len
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
    tagged = _sub_bucketed(normed, "_norm", cfg, recorder, "exact_substr_within_groups")
    return tagged.groupBy("_grp", "_sub").applyInPandas(run, schema=out_schema)


def _sub_bucketed(grouped: DataFrame, text: str, cfg: DedupConfig,
                  recorder=None, stage: str = "") -> DataFrame:
    """The giant-group guard: (_grp, _id, ``text``) rows gain a ``_sub``
    key — 0, or pmod(xxhash64(_id), ceil(bytes/budget)) for a group whose
    summed ``text`` bytes exceed ``cfg.substr_group_byte_budget`` — so
    (_grp, _sub) groups stay under the budget. ``recorder`` observes the
    number of oversized groups and the largest one's bytes as ``stage``
    metrics.

    Per-group byte sizes via groupBy (map-side combine) + join-back — the
    same skew-safe shape as pairs_from_buckets, never a window."""
    budget = cfg.substr_group_byte_budget
    sizes = grouped.groupBy("_grp").agg(F.sum(F.octet_length(text)).alias("_bytes"))
    if recorder is not None:
        # one row per group, every one of them read by the join-back below
        over = F.col("_bytes") > budget
        sizes = sizes.observe(recorder.observation(stage, "groups_sub_bucketed"),
                              F.count_if(over).alias("n")) \
            .observe(recorder.observation(stage, "max_group_bytes"),
                     F.max(F.when(over, F.col("_bytes"))).alias("n"))
    n_split = F.greatest(F.ceil(F.col("_bytes") / budget), F.lit(1))
    tagged = grouped.join(sizes, "_grp").withColumn(
        "_sub",
        F.when(
            F.col("_bytes") > budget,
            F.pmod(F.xxhash64("_id", F.lit(cfg.seed)), n_split),
        ).otherwise(F.lit(0)),
    ).drop("_bytes")
    return tagged


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

    Same giant-group guard as exact_substr_within_groups (_sub_bucketed):
    groups over ``cfg.substr_group_byte_budget`` bytes sub-bucket by doc
    hash (exact within sub-buckets, truncation recorded — no silent
    caps).
    """
    min_len = cfg.min_substr_len
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

    raw = docs.select(
        F.col(group_col).alias("_grp"),
        F.col(id_col).cast("string").alias("_id"),
        F.col(text_col).alias("_raw"),
    )
    tagged = _sub_bucketed(raw, "_raw", cfg, recorder, "removal_spans_within_groups")
    return tagged.groupBy("_grp", "_sub").applyInPandas(run, schema=out_schema)


def substr_cross_candidates(
    fp_train: DataFrame,
    fp_eval: DataFrame,
    cfg: DedupConfig,
    eval_fp_cap: int = 8,
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

    Eval/benchmark sets are tiny next to a training corpus, so their
    fingerprint table is broadcast: the candidate join is a map-side hash
    join, the training fingerprints are scanned once and NEVER shuffled,
    and the decontamination pass costs one corpus scan plus verify on
    flagged pairs.
    """
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
    anchors = fp_train.join(F.broadcast(grouped.drop("n_eval")), "fp_hash").select(
        F.col("id").alias("a"), "b",
        F.col("pos").alias("pos_a"), "pos_b",
    )
    return _anchor_pairs(anchors, cfg.max_anchors_per_pair, "substr_cross"), capped_stats


def substr_decontaminate(
    train: DataFrame,
    train_id: str,
    train_text: str,
    evals: DataFrame,
    eval_id: str,
    eval_text: str,
    cfg: DedupConfig,
    regime: Regime,
    eval_fp_cap: int = 8,
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
    Verify's pair and text tables join ``regime``'s sweep.
    """
    fpt = fingerprint_table(train, train_id, train_text, cfg)
    fpe = fingerprint_table(evals, eval_id, eval_text, cfg)
    pairs, _capped = substr_cross_candidates(fpt, fpe, cfg, eval_fp_cap=eval_fp_cap)
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
    verified = verify_substr(prefixed, docs_all, "uid", "utext", cfg, regime)
    return verified.select(
        F.expr("substring(a, 3)").alias("train_id"),
        F.expr("substring(b, 3)").alias("eval_id"),
        "substr_len", "verdict",
    )
