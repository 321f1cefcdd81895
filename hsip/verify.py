"""V1-V5 — candidate-pair verification (reference "matching" stage at scale).

Hydration (V1) is the classic double big-table equi-join: pairs joined to
the feature table on a, then on b — sort-merge joins with AQE skew split.
Checks are pure SQL where possible:
  V2 exact Jaccard  : size(array_intersect)/size(array_union)  (codegen'd)
  V3 Hamming        : bit_count(simhash_a ^ simhash_b) <= d     (codegen'd)
  V4 substring      : window-equality re-check (see suffixes.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .barrier import Regime
from .config import DedupConfig

# Build-side budget for the latency-mode broadcast hydrations below.
# 256 MB is comfortably inside the pipeline's driver budget (session.py
# HSIP_DRIVER_MEM 24g default) and far under Spark's 8 GB broadcast
# hard limit; the gate reads MEASURED bytes (barrier.fits_broadcast), so
# an oversized corpus simply keeps the shuffle-join shape.
_BCAST_HYDRATE_MAX_BYTES = 256 * 1024 * 1024


def hydrate(pairs: DataFrame, features: DataFrame, cols: list[str],
            prune: bool = False, broadcast: bool = False) -> DataFrame:
    """V1: attach feature columns for both pair sides as <col>_a / <col>_b.

    Both joins scan the SAME projected feature subplan and only rename
    columns AFTER each join, so the two feature-side exchanges
    canonicalize identically and CAN collapse via ReuseExchange — but AQE
    materializes query-stage futures concurrently, so in practice the fat
    exchange still ships twice (event-log r4: 2 x 2.4 GB of shingle
    arrays at 2.76M turns). ``prune=True`` bounds both shipments by the
    PAIR-TOUCHED id set (left-semi against the pair ids) — the hydration
    invariant that matters at 100 TB: feature bytes shuffled scale with
    candidates, never with the corpus.

    ``broadcast=True`` (latency-mode callers, guide §3: pick the build
    side on measured bytes): hint the feature side into both joins'
    build slots. The two BroadcastExchanges canonicalize identically and
    reuse one build, the pair rows stream with their existing (re-spread)
    partitioning, and the 4-exchange sort-merge chain — which re-ships
    the fat feature arrays twice through the latency mode's narrow
    shuffle width — disappears. Callers gate on barrier.fits_broadcast."""
    f = features.select("id", *cols)
    if prune:
        # one explode scan, not a two-branch union: under AQE the two
        # union legs materialize as separate query-stage futures, each
        # re-executing the (typically uncached) candidate chain (r6
        # event-log: the duplicated-subtree job swarm)
        pair_ids = pairs.select(
            F.explode(F.array("a", "b")).alias("id")
        ).distinct()
        f = f.join(pair_ids, "id", "left_semi")
    if broadcast:
        f = F.broadcast(f)
    out = pairs.join(f, pairs["a"] == f["id"]).drop("id")
    for c in cols:
        out = out.withColumnRenamed(c, f"{c}_a")
    fb = f.alias("fb")
    out = out.join(fb, out["b"] == fb["id"]).drop("id")
    for c in cols:
        out = out.withColumnRenamed(c, f"{c}_b")
    return out


def hamming_col(df: DataFrame) -> F.Column:
    """Hamming distance between simhash_a/simhash_b for both fingerprint
    layouts (config.py simhash_bits): ``bigint`` (64-bit — one
    bit_count(xor)) and ``array<bigint>`` (multi-lane 128-bit — per-lane
    bit_count(xor) summed via zip_with+aggregate). Both shapes are pure
    built-in expressions; the verdict stays a projection either way."""
    if dict(df.dtypes).get("simhash_a") == "bigint":
        return F.bit_count(
            F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
        ).cast("int")
    return F.aggregate(
        F.zip_with("simhash_a", "simhash_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")


def jaccard_col() -> F.Column:
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size(F.array_union("shingles_a", "shingles_b"))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def containment_col() -> F.Column:
    """Containment |A∩B| / min(|A|,|B|): near-superset detection —
    catches a doc embedded in a longer one, where Jaccard dilutes
    toward 0 as the length ratio grows (Broder '97's second measure)."""
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    mn = F.least(F.size("shingles_a"), F.size("shingles_b"))
    return F.when(mn > 0, inter / mn).otherwise(F.lit(0.0))


def verify_jaccard(pairs: DataFrame, shingles_df: DataFrame, cfg: DedupConfig,
                   regime: Regime) -> DataFrame:
    """V2: exact Jaccard over shingle sets; keeps score for reporting."""
    # pruning scans `pairs` three times (two id projections + the join) —
    # materialize once so an uncached candidate chain isn't recomputed
    # per scan (lazy-cache/AQE trap)
    pairs = regime.reused(pairs)
    h = hydrate(pairs, shingles_df, ["shingles"], prune=True)
    return (
        h.withColumn("jaccard", jaccard_col())
        .drop("shingles_a", "shingles_b")
        .withColumn("verdict", F.col("jaccard") >= cfg.jaccard_threshold)
    )


def verify_hamming(pairs: DataFrame, simhash_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """V3: bit_count(xor) <= d over 64-bit SimHash fingerprints.

    When the pair table already carries (simhash_a, simhash_b) — the
    payload_cols path through pairs_from_buckets — the verdict is a pure
    projection; otherwise hydrate the 16 B/doc slim table."""
    h = pairs if "simhash_a" in pairs.columns else hydrate(
        pairs, simhash_df, ["simhash"]
    )
    return (
        h.withColumn("hamming", hamming_col(h))
        .drop("simhash_a", "simhash_b")
        .withColumn("verdict", F.col("hamming") <= cfg.hamming_d)
    )


def verify_jaccard_hamming(pairs: DataFrame, features: DataFrame,
                           cfg: DedupConfig, regime: Regime) -> DataFrame:
    """V2+V3, channel-aware verification: each channel's pairs touch ONLY
    the feature bytes its check reads.

    The r3 design hydrated every pair with (shingles, simhash) through
    one fat subplan and dispatched by CASE. The event-log decomposition
    at 2.76M turns killed that: SimHash Hamming-block candidates grow
    superlinearly on boilerplate-heavy corpora (112k -> 1.61M pairs for
    4x docs while minhash/substr stayed exactly linear), and each pair
    dragged ~24 KB of shingle arrays through TWO exchanges plus the
    side-b re-shuffle of hydrated rows — 40 GB of the 45 GB verify-phase
    shuffle was shingle arrays attached to pairs whose verdict reads two
    8-byte integers. Split paths:

      simhash rows -> (simhash_a, simhash_b) arrive IN the pair rows
                      (lsh.channel_bucket_table's payload through
                      pairs_from_buckets — required), so the
                      verdict is a projection — zero joins for the
                      channel whose candidate count can go quadratic;
      minhash rows -> (shingles) hydration, pruned to pair-touched ids
                      and materialized once (AQE materializes both join
                      sides concurrently, so a lazy pruned subtree would
                      build twice): exact-Jaccard bytes scale with
                      MINHASH pairs only, never with the corpus.

    Verdicts/rows are identical to the fused plan (pinned by
    tests/test_e2e_oracle.py and the fused-vs-separate equality test);
    only the bytes-per-pair change. A pair caught by BOTH channels is two
    input rows (a, b, channel) and stays two output rows, exactly as the
    CASE dispatch produced.

    ``regime`` (barrier.Regime) selects the shape: the split path above
    is the eager regime's (its tables join the sweep); the latency regime
    runs the r3-style single fused CASE hydration instead: ONE unpruned
    feature join chain, no pair/feature caches, no extra scans. At 57k turns the fat
    exchange is ~tens of MB and the split path's extra stages cost more
    than they save (same-session A/B, BENCH/BASELINE.md r5); at 2.76M
    turns the split path is 2x (r4). Scale-adaptive physical planning —
    output equality between the two shapes is pinned by
    tests/test_e2e_oracle.py.
    """
    if not regime.eager:
        return _verify_jh_fused_small(pairs, features, cfg, regime)
    # the pair table feeds four subplans (two channel filters + two
    # pair-id scans for pruning); callers pass it lazy in ephemeral runs,
    # so materialize it once here — without this every scan re-runs the
    # whole candidate expansion chain (the lazy-cache/AQE trap; same
    # pattern as verify_substr). A barrier rather than a lazy cache: the
    # pruning and hydration queries then plan over one leaf instead of
    # the expansion chain's tree.
    pairs = regime.reused(pairs)
    is_mh = F.col("channel") == "minhash_lsh"
    mh_pairs = pairs.filter(is_mh).drop("simhash_a", "simhash_b")
    # single explode scan (vs a two-leg union) — same AQE duplicated-
    # subtree rationale as hydrate()
    pair_ids = mh_pairs.select(F.explode(F.array("a", "b")).alias("id"))
    # hash-partition ONCE and materialize the post-shuffle layout: both
    # hydration joins consume the barrier's HashPartitioning(id) directly
    # (the pair side adopts its width), so the pruned shingle arrays cross
    # the network one time, not once per join — the same one-exchange
    # contract verify_substr's eager path documents for its text table.
    # The barrier also stops AQE's concurrent join-side futures from
    # building the pruned subtree twice (the latency regime took the
    # fused early-return above, so this split path always materializes).
    f = regime.reused(
        features.select("id", "shingles")
        .join(pair_ids, "id", "left_semi")
        .repartition("id")
    )
    if regime.broadcastable("verify_mh_sh", f):
        # known small: broadcast it into both joins, as Catalyst did when
        # this was a cache with measured stats — the pair rows never shuffle
        f = F.broadcast(f)
    mh = mh_pairs.join(f, mh_pairs["a"] == f["id"]).drop("id") \
        .withColumnRenamed("shingles", "shingles_a")
    fb = f.alias("fb")
    mh = mh.join(fb, mh["b"] == fb["id"]).drop("id") \
        .withColumnRenamed("shingles", "shingles_b")
    mh = (
        mh.withColumn("jaccard", jaccard_col())
        .withColumn("hamming", F.lit(None).cast("int"))
        .drop("shingles_a", "shingles_b")
        .withColumn("verdict", F.col("jaccard") >= cfg.jaccard_threshold)
    )
    sh_src = pairs.filter(~is_mh)
    sh = (
        sh_src
        .withColumn("jaccard", F.lit(None).cast("double"))
        .withColumn("hamming", hamming_col(sh_src))
        .drop("simhash_a", "simhash_b")
        .withColumn("verdict", F.col("hamming") <= cfg.hamming_d)
    )
    return mh.unionByName(sh.select(*mh.columns))


def _verify_jh_fused_small(pairs: DataFrame, features: DataFrame,
                           cfg: DedupConfig, regime: Regime) -> DataFrame:
    """Small-corpus shape of verify_jaccard_hamming: one fused CASE
    hydration (the round-3 design); rows/verdicts identical to the split
    path.

    The pair rows are re-spread to the session's core count first (r6):
    this path runs under the pipeline's small-corpus latency mode, whose
    corpus-derived shuffle width (~8) is right for the kB-sized
    exchanges but starves the one genuinely CPU-bound projection here —
    exact Jaccard over the hydrated shingle arrays. The pairs frame is
    narrow (ids + an 8-byte payload per side), so the extra exchange is
    a few MB; the array bytes attach after, via the hydration joins.
    """
    pairs = regime.spread(pairs)
    # ``features`` is the pipeline's `features` stage barrier, which
    # measured its blocks.
    # Known-small -> broadcast hydration: one reused build replaces the
    # two sort-merge joins whose narrow-width exchanges ship the shingle
    # arrays twice and pin the Jaccard projection at the latency shuffle
    # width instead of the re-spread core count (r6: live transcript-
    # scale plan had 4 SMJ / 8 Exchange to verify 1,841 pairs).
    h = hydrate(pairs, features, ["shingles"],
                broadcast=regime.broadcastable("verify_mh_sh", features,
                                               _BCAST_HYDRATE_MAX_BYTES))
    is_mh = F.col("channel") == "minhash_lsh"
    jac = F.when(is_mh, jaccard_col())
    ham = F.when(~is_mh, hamming_col(h))
    return (
        h.withColumn("jaccard", jac)
        .withColumn("hamming", ham)
        .drop("shingles_a", "shingles_b", "simhash_a", "simhash_b")
        .withColumn(
            "verdict",
            F.when(is_mh, F.col("jaccard") >= cfg.jaccard_threshold)
            .otherwise(F.col("hamming") <= cfg.hamming_d),
        )
    )


def combine_verified(*verified: DataFrame) -> DataFrame:
    """V5: union per-channel verdicts into one edge list with provenance."""
    normed = []
    for df in verified:
        base = df.select(
            "a", "b", "channel", "verdict",
            *(c for c in ("jaccard", "hamming", "substr_len") if c in df.columns),
        )
        for c in ("jaccard", "hamming", "substr_len"):
            if c not in base.columns:
                base = base.withColumn(
                    c, F.lit(None).cast("double" if c == "jaccard" else "int")
                )
        normed.append(base)
    allv = normed[0]
    for df in normed[1:]:
        allv = allv.unionByName(df)
    return allv.groupBy("a", "b").agg(
        F.max("jaccard").alias("jaccard"),
        F.min("hamming").alias("hamming"),
        F.max("substr_len").alias("substr_len"),
        F.collect_set(F.when(F.col("verdict"), F.col("channel"))).alias("channels"),
        F.max(F.col("verdict").cast("int")).cast("boolean").alias("verdict"),
    )


def edges(verified: DataFrame) -> DataFrame:
    return verified.filter("verdict").select("a", "b")
