"""V1-V5 — candidate-pair verification (reference "matching" stage at scale).

Hydration (V1, ``hydrate``) attaches a pruned feature table to both pair
sides: broadcast when its measured size allows, otherwise two equi-joins
over one hash-partitioned barrier. Checks are pure SQL where possible:
  V2 exact Jaccard  : size(array_intersect)/size(array_union)  (codegen'd)
  V3 Hamming        : bit_count(simhash_a ^ simhash_b) <= d     (codegen'd)
  V4 substring      : window-equality re-check (see suffixes.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .barrier import Regime
from .config import DedupConfig


def hydrate(pairs: DataFrame, table: DataFrame, cols: list[str],
            regime: Regime, name: str) -> DataFrame:
    """V1: attach ``table``'s ``cols`` (keyed by ``id``) for both pair
    sides as <col>_a / <col>_b. ``pairs`` is scanned three times (the id
    prune and both joins), so callers pass it materialized
    (``regime.reused``).

    - Prune: only ids that appear in a pair keep their row (left-semi
      against the pair ids), so the bytes shipped scale with candidates,
      never with the corpus — the hydration invariant that matters at
      100 TB (a 6g executor OOM'd at 2.76M turns holding the full
      corpus text).
    - One exchange: the pruned table is hash-partitioned by id once and
      passes the regime's barrier, which keeps that layout, so both joins
      read it with no further exchange (the pair side adopts its width).
      Two lazy join branches each ship it (event-log r4: 2 x 2.4 GB of
      shingle arrays at 2.76M turns; 2 x 478 MB of corpus text at 554k
      turns), and AQE's concurrent join-side futures would build the
      pruned subtree twice.
    - Broadcast: the barrier measured the table; at or under the session's
      broadcast threshold (``regime.broadcastable``, recorded as
      ``hydration[name]``) it is broadcast into both joins, whose builds
      canonicalize identically and reuse one, and the pair rows never
      shuffle."""
    # one explode scan, not a two-branch union: under AQE the two union
    # legs materialize as separate query-stage futures, each re-executing
    # the candidate chain (r6 event-log: the duplicated-subtree job swarm)
    pair_ids = pairs.select(F.explode(F.array("a", "b")).alias("id"))
    f = regime.reused(
        table.select("id", *cols).join(pair_ids, "id", "left_semi")
        .repartition("id")
    )
    if regime.broadcastable(name, f):
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
    """V2: exact Jaccard over shingle sets; keeps score for reporting.
    The pair and pruned shingle tables join ``regime``'s sweep."""
    h = hydrate(regime.reused(pairs), shingles_df, ["shingles"], regime,
                "verify_jaccard")
    return (
        h.withColumn("jaccard", jaccard_col())
        .drop("shingles_a", "shingles_b")
        .withColumn("verdict", F.col("jaccard") >= cfg.jaccard_threshold)
    )


def verify_hamming(pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """V3: bit_count(xor) <= d over SimHash fingerprints. The pairs carry
    (simhash_a, simhash_b) — the payload_cols path through
    pairs_from_buckets (simhash.simhash_candidates) — so the verdict is a
    pure projection."""
    return (
        pairs.withColumn("hamming", hamming_col(pairs))
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
      minhash rows -> (shingles) hydration (``hydrate``), pruned to
                      pair-touched ids: exact-Jaccard bytes scale with
                      MINHASH pairs only, never with the corpus.

    A pair caught by BOTH channels is two input rows (a, b, channel) and
    stays two output rows (pinned by tests/test_e2e_oracle.py). The pair
    and pruned shingle tables join ``regime``'s sweep; the hydration's
    broadcast decision is ``regime.hydration["verify_mh_sh"]``.
    """
    # the pair table feeds three subplans (two channel filters, and the
    # minhash side's prune and joins); callers pass it lazy in ephemeral
    # runs, so materialize it once here — without this every scan re-runs
    # the whole candidate expansion chain (the lazy-cache/AQE trap)
    pairs = regime.reused(pairs)
    is_mh = F.col("channel") == "minhash_lsh"
    mh = hydrate(pairs.filter(is_mh).drop("simhash_a", "simhash_b"),
                 features, ["shingles"], regime, "verify_mh_sh")
    mh = (
        mh.withColumn("jaccard", jaccard_col())
        .withColumn("hamming", F.lit(None).cast("int"))
        .drop("shingles_a", "shingles_b")
        .withColumn("verdict", F.col("jaccard") >= cfg.jaccard_threshold)
    )
    sh = verify_hamming(pairs.filter(~is_mh), cfg) \
        .withColumn("jaccard", F.lit(None).cast("double"))
    return mh.unionByName(sh.select(*mh.columns))


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
