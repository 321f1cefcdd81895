"""Similarity search over embedding columns (array<float>).

Two paths:
  brute_force_topk — exact cosine top-k via broadcast probes + window
                     rank; the correctness baseline. O(N*Q).
  rhp_lsh_topk     — random-hyperplane LSH (Charikar STOC'02 for cosine):
                     b-bit sign signatures, banded into buckets; exact
                     cosine re-rank within candidate buckets. Sub-linear
                     candidate volume — the 100 TB path, where a
                     brute-force cross join is impossible.

Hyperplanes are seeded -> deterministic across runs/partitions. The dot
products run JVM-side via higher-order functions when ranking candidate
pairs (no Python in the verify loop); signatures use one numpy pandas UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .barrier import Regime

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)


def _cosine_expr(a: str, b: str) -> F.Column:
    dot = F.expr(_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_DOT.format(a=b, b=b)))
    return dot / F.when(na * nb > 0, na * nb).otherwise(F.lit(1.0))


def brute_force_topk(emb: DataFrame, probes: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k: probes broadcast against the full table."""
    p = probes.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q")
    )
    scored = (
        F.broadcast(p)
        .crossJoin(emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("v")))
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _cosine_expr("q", "v").alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"), F.round("cos", 6).alias("cos"), "rk")
    )


def rhp_signatures(emb: DataFrame, dim: int, n_bits: int = 64, seed: int = 42,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Sign-of-projection signatures: bit j = (v . h_j) >= 0 (Charikar'02).
    P[bits agree] = 1 - angle/pi — Hamming distance estimates cosine."""

    @pandas_udf(T.LongType())
    def sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        gen = np.random.default_rng(seed)
        planes = gen.standard_normal((dim, n_bits))
        shifts = np.arange(n_bits, dtype=np.uint64)
        for vecs in it:
            if len(vecs) == 0:
                yield pd.Series([], dtype=np.int64)
                continue
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
            bits = (m @ planes) >= 0  # (rows, n_bits)
            packed = (bits.astype(np.uint64) << shifts[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.Series(packed.view(np.int64))

    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sig(F.col(vec_col)).alias("sig")
    )


def rhp_lsh_topk(emb: DataFrame, k: int, dim: int, n_bits: int = 64,
                 band_bits: int = 8, seed: int = 42, bucket_cap: int = 512,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 recorder=None, hot_policy: str = "star", *,
                 regime: Regime) -> DataFrame:
    """Approximate top-k: band the sign signature into n_bits/band_bits
    bucket keys, exact-cosine re-rank within buckets.

    Scale shape (VERDICT.md r1 findings 1+2 fixed here):
      - only (id, band_id, band_key) crosses the bucket shuffle — the
        float vectors are hydrated AFTER pair generation via two equi-
        joins (the verify.py V1 pattern), not carried once per band;
      - bucket pairing routes through lsh.pairs_from_buckets, so hot
        buckets get the star/salt policy instead of being silently
        dropped (a query landing only in degenerate buckets still gets
        neighbors), and the hot-bucket count is observed for a
        ``recorder`` (hsip.metrics.Recorder; read it with
        ``collect_observed`` once the output has materialized) — no
        silent caps.

    The signature and band tables join ``regime``'s sweep: the caller
    releases them once the top-k has materialized (VERDICT.md r3 item 5;
    the signatures hold the full vector column).
    """
    from .lsh import pairs_from_buckets

    sigs = regime.reused(rhp_signatures(emb, dim, n_bits, seed, id_col, vec_col))
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    band_arr = F.array(
        *[
            F.shiftright(F.col("sig"), i * band_bits).bitwiseAND(F.lit(mask))
            for i in range(n_bands)
        ]
    )
    # keys only through the shuffle; materialized per the
    # pairs_from_buckets contract (sizes-groupBy and join-back both scan it)
    bands = regime.reused(
        sigs.select("id", F.posexplode(band_arr).alias("band_id", "band_key"))
        .repartition("band_id", "band_key")
    )
    hot_counts = None if recorder is None else {
        "rhp_lsh": recorder.observation("rhp_lsh_topk", "hot_buckets")}
    pairs, _ = pairs_from_buckets(
        bands, bucket_cap, bucket_cols=("band_id", "band_key"),
        channel="rhp_lsh", hot_policy=hot_policy, salt_seed=seed,
        hot_counts=hot_counts,
    )

    # each undirected candidate serves both query directions
    directed = pairs.select(
        F.col("a").alias("q_id"), F.col("b").alias("n_id")
    ).unionByName(pairs.select(F.col("b").alias("q_id"), F.col("a").alias("n_id")))
    vecs = sigs.select("id", "v")
    hydrated = directed.join(
        vecs.select(F.col("id").alias("q_id"), F.col("v").alias("q")), "q_id"
    ).join(vecs.select(F.col("id").alias("n_id"), F.col("v").alias("v")), "n_id")
    scored = hydrated.select("q_id", "n_id", _cosine_expr("q", "v").alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"), F.round("cos", 6).alias("cos"), "rk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def _cell_assigner(ct: np.ndarray):
    """Pandas UDF mapping a vector column to its nearest-centroid cell id
    (one matmul per Arrow batch). ``ct`` is the (dim, n_cells) transposed
    L2-normalized centroid matrix, closed over and shipped once per task."""

    @pandas_udf(T.IntegerType())
    def cell_of(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            if len(vecs) == 0:
                yield pd.Series([], dtype=np.int32)
                continue
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            m = m / np.where(nrm > 0, nrm, 1.0)
            yield pd.Series((m @ ct).argmax(axis=1).astype(np.int32))

    return cell_of


def ivf_fit_centroids(emb: DataFrame, dim: int, n_cells: int = 16,
                      sample_limit: int = 4096, n_iter: int = 10,
                      seed: int = 42, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means coarse quantizer fit on a BOUNDED driver-side
    sample (deterministic hash-order take — TakeOrderedAndProject, no
    global sort), like broadcasting a small dim table: the sample is
    <= sample_limit * dim floats regardless of corpus size, so the fit
    cost is constant at 100 TB. Returns (n_cells, dim) L2-normalized
    centroids. Empty cells are re-seeded from the farthest points so the
    quantizer never collapses."""
    rows = (
        emb.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(int(sample_limit))
        .collect()
    )
    x = np.vstack([np.asarray(r.v, dtype=np.float64) for r in rows])
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms > 0, norms, 1.0)
    gen = np.random.default_rng(seed)
    cents = x[gen.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    if len(cents) < n_cells:  # corpus smaller than n_cells
        cents = np.vstack([cents, gen.standard_normal((n_cells - len(cents), dim))])
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(n_iter):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
            else:
                # re-seed dead cell from the globally worst-served point
                cents[c] = x[sims.max(axis=1).argmin()]
    return cents


def ivf_topk(emb: DataFrame, probes: DataFrame, k: int, dim: int,
             n_cells: int = 16, n_probe: int = 4, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: np.ndarray | None = None,
             recorder=None) -> DataFrame:
    """IVF ANN: assign index vectors to their nearest centroid cell
    (vectorized pandas UDF, one matmul per Arrow batch), probe each
    query's n_probe nearest cells, exact-cosine re-rank inside the
    probed cells. Candidates per query ~= n_probe/n_cells of the corpus
    — the classic IVF tradeoff curve; with n_probe == n_cells the probed
    cells cover everything and the output EQUALS exact brute-force top-k
    (the oracle-verifiable configuration).

    Scale shape: only (id, cell) plus the vector being ranked crosses
    the cell join; at corpus scale pick n_cells ~ sqrt(N) and store the
    index bucketed by cell so a probe reads only matching buckets.
    Small probe sets broadcast (Catalyst decides by size). Cell-count
    skew is the n_cells knob itself — cells are intentionally coarse,
    and the per-cell re-rank is a projection + window, not an all-pairs
    expansion."""
    cents = centroids if centroids is not None else ivf_fit_centroids(
        emb, dim, n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col
    )
    n_cells = len(cents)
    n_probe = min(n_probe, n_cells)
    ct = cents.T.copy()
    cell_of = _cell_assigner(ct)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            out = []
            for v in vecs:
                q = np.asarray(v, dtype=np.float64)
                n = np.linalg.norm(q)
                q = q / (n if n > 0 else 1.0)
                sims = q @ ct
                top = np.argsort(-sims)[:n_probe]
                out.append([int(c) for c in top])
            yield pd.Series(out)

    idx = emb.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("v")
    ).withColumn("cell", cell_of("v"))
    q = probes.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q")
    ).withColumn("cell", F.explode(probe_cells(F.col("q"))))
    cand = (
        q.join(idx, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .drop("cell")
    )
    if recorder is not None:
        recorder.metric("ivf_topk", "n_cells", n_cells)
        recorder.metric("ivf_topk", "n_probe", n_probe)
    scored = cand.select("q_id", "n_id", _cosine_expr("q", "v").alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"),
                F.round("cos", 6).alias("cos"), "rk")
    )


# ---------------------------------------------------------------------------
# Semantic dedup — embedding-space near-duplicate removal (SemDeDup-style)
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(emb: DataFrame, threshold: float,
                         dim: int | None = None, n_cells: int = 16,
                         seed: int = 42, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         centroids: np.ndarray | None = None,
                         recorder=None,
                         block_bytes: int = 64 << 20, *,
                         regime: Regime) -> DataFrame:
    """Within-cell cosine-threshold pairs, the candidate stage of
    semantic dedup (Abbas et al., "SemDeDup", arXiv:2303.09540):
    k-means-partition the embedding space with the same coarse quantizer
    IVF uses (``ivf_fit_centroids`` — bounded driver-side sample, so fit
    cost is constant at any corpus size), then compare vectors ONLY
    against their own cell. Faithful to the paper, pairs that straddle a
    cell boundary are missed by design — that is the approximation that
    makes the all-pairs problem tractable; the measured recall of the
    tradeoff is pinned in tests/test_semantic_dedup.py.

    Plan shape for 100 TB: one shuffle of (id, cell, vector) — N rows,
    each vector crossing exactly once — then a per-cell grouped-map that
    computes the cosine matrix in blocked numpy matmuls and emits ONLY
    the pairs above threshold (never the dense matrix). Pick
    ``n_cells ~ N / target_cell_rows``: per-cell work is quadratic in
    cell size, so cells are the unit of parallelism AND the cost knob.
    The matmul block height adapts to ``block_bytes`` so working memory
    stays flat regardless of cell size.

    ``n_cells=1`` degenerates to exact all-pairs semantics (every pair
    shares the one cell) — the oracle-verifiable configuration the
    driver contract checks against a DuckDB threshold-graph baseline.

    With a ``recorder`` the cell assignment is scanned twice (cell-size
    stats, pairs), so it goes through ``regime.reused`` and joins its
    sweep.
    """
    id_type = dict(emb.dtypes)[id_col]
    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_cells <= 1:
        cells = src.withColumn("cell", F.lit(0))
    else:
        cents = centroids if centroids is not None else ivf_fit_centroids(
            emb, dim or len(emb.select(vec_col).first()[0]),
            n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col,
        )
        cells = src.withColumn("cell", _cell_assigner(cents.T.copy())("v"))

    thr = float(threshold)
    budget = int(block_bytes)

    def emit_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by id: positional upper-triangle then implies id_a < id_b
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        x = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(nrm > 0, nrm, 1.0)
        step = max(1, budget // (8 * n))
        out_a, out_b = [], []
        for s in range(0, n, step):
            sims = x[s:s + step] @ x.T  # (block, n)
            ii, jj = np.nonzero(sims >= thr)
            gi = ii + s
            keep = jj > gi
            out_a.append(ids[gi[keep]])
            out_b.append(ids[jj[keep]])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    if recorder is not None:
        # the stats job below and the pairs consumer would otherwise
        # each run the full-corpus centroid-assignment UDF
        cells = regime.reused(cells)
        sizes = cells.groupBy("cell").count()
        stats = sizes.agg(
            F.count(F.lit(1)).alias("nc"), F.max("count").alias("mx")
        ).collect()[0]
        recorder.metric("semantic_dedup", "n_cells", int(stats["nc"]))
        recorder.metric("semantic_dedup", "max_cell_rows", int(stats["mx"]))
    return cells.groupBy("cell").applyInPandas(
        emit_pairs, schema=f"id_a {id_type}, id_b {id_type}"
    )


def semantic_dedup(emb: DataFrame, threshold: float, dim: int | None = None,
                   n_cells: int = 16, seed: int = 42, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: np.ndarray | None = None, recorder=None, *,
                   regime: Regime) -> DataFrame:
    """Full semantic dedup: threshold-graph pairs (within IVF cells) ->
    connected components -> one keeper per cluster. Returns
    (id_col, cluster_id, keep): cluster_id is the component-min id (the
    X2 convention), keep is true exactly for that representative — the
    rows a training pipeline retains. Singleton vectors keep themselves.
    The connected-components blocks join ``regime``'s sweep.
    """
    from .cc import assign_clusters

    pairs = semantic_dedup_pairs(
        emb, threshold, dim=dim, n_cells=n_cells, seed=seed, id_col=id_col,
        vec_col=vec_col, centroids=centroids, recorder=recorder, regime=regime,
    )
    clusters = assign_clusters(
        emb.select(F.col(id_col).alias("id")),
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        regime,
    )
    return clusters.select(
        F.col("id").alias(id_col),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )
