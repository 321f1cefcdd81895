"""G3/G4 — LSH band hashing + bucket self-pairing with hot-bucket control.

Banding (MMDS ch.3): split the num_perm-row signature into b bands of r
rows; two docs are candidates iff some band hashes equal. Candidate
probability at Jaccard s is 1-(1-s^r)^b, threshold ~ (1/b)^(1/r).

Everything here is pure SQL (posexplode + xxhash64 + self-equi-join) —
no Python crossing. Skew control (SURVEY.md §4.2.1): bucket sizes are
computed first; buckets above ``bucket_cap`` switch from all-pairs
self-join (O(m^2) pair explosion no AQE split can fix) to star pairing
against the bucket minimum (O(m) edges, preserves bucket connectivity in
the CC graph); every truncation is logged to metrics — no silent caps.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .barrier import Regime
from .config import DedupConfig
from .simhash import hamming_block_table


def band_table(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, sig) -> (id, band_id, band_hash). One row per band per doc."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda i: F.xxhash64(i, F.slice(F.col("sig"), i * r + 1, r)),
    )
    return sig_df.select(
        "id", F.posexplode(bands).alias("band_id", "band_hash")
    )


def pairs_from_buckets(
    bucketed: DataFrame,
    cap: int,
    id_col: str = "id",
    bucket_cols: tuple[str, ...] = ("band_id", "band_hash"),
    channel: str | None = "minhash_lsh",
    hot_policy: str = "star",
    salt_seed: int = 42,
    payload_cols: tuple[str, ...] = (),
    regime: Regime | None = None,
    hot_counts: dict[str, Observation] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Generic bucket -> candidate-pair expansion with hot-bucket control.

    Returns (pairs(a,b,channel), hot_bucket_stats) — the latter feeds the
    metrics table (SURVEY.md S6; "no silent caps"). The pairs are
    ``_bucket_legs``' rows deduped per (a, b, channel).
    Reused by every candidate channel (LSH bands, Hamming blocks,
    substring fingerprints): they all reduce to "same bucket key => pair".

    ``payload_cols``: columns of ``bucketed`` carried through the
    expansion into ``<col>_a`` / ``<col>_b`` on each pair. For
    verification predicates that read a few bytes per doc (SimHash's
    bit_count(xor) reads two int64s) this makes verify a PROJECTION of
    the pair table instead of a double feature join — the candidate
    channel whose pair count grows superlinearly on boilerplate-heavy
    corpora then costs ~16 extra bytes/pair instead of a join chain
    (event-log r4: 1.6M simhash candidates at 2.76M turns). Payloads
    must be functionally dependent on ``id_col`` (same value on every
    bucket row of a doc); every expansion path emits a < b, so payload
    suffixes never swap.

    ``channel=None`` takes the channel from a ``channel`` COLUMN of the
    bucket table (which must then be part of ``bucket_cols``): several
    channels' buckets union into ONE table and expand through ONE
    shuffle chain — fewer short stages, the same pairs, deduped per
    (a, b, channel).

    Hot-bucket policies (bucket size > cap, SURVEY §4.2.1):
      "star" (default) — every member pairs with the bucket minimum:
          O(m) edges, the bucket stays ONE component through CC. Best
          when hot buckets are genuine duplicate groups (exact copies).
      "salt" — blocking-key salting: members are split into
          ceil(m/cap) sub-buckets by pmod(xxhash64(id), s); all-pairs
          within each sub-bucket. Bounds per-task work at O(cap^2);
          cross-salt pairs are intentionally dropped (recall comes from
          the doc's other b-1 bands) and the truncation is LOGGED via
          hot_bucket_stats. Best when hot buckets are boilerplate noise
          that should NOT merge into one component.

    ``hot_counts`` maps a channel to an Observation (metrics.Recorder)
    that receives its number of buckets over ``cap`` — the count
    hot_bucket_stats holds, taken without a job of its own: the
    observation rides the size table, which every pair leg joins, so it
    is filled in by whatever action first runs the pairs.
    """
    rows, hot_stats = _bucket_legs(
        bucketed, cap, id_col, bucket_cols, channel, hot_policy, salt_seed,
        payload_cols, regime, hot_counts,
    )
    return rows.dropDuplicates(["a", "b", "channel"]), hot_stats


def _bucket_legs(
    bucketed: DataFrame,
    cap: int,
    id_col: str = "id",
    bucket_cols: tuple[str, ...] = ("band_id", "band_hash"),
    channel: str | None = "minhash_lsh",
    hot_policy: str = "star",
    salt_seed: int = 42,
    payload_cols: tuple[str, ...] = (),
    regime: Regime | None = None,
    hot_counts: dict[str, Observation] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The bucket expansion behind ``pairs_from_buckets``: one
    (a, b, channel, <payload>_a, <payload>_b) row per shared bucket, NOT
    deduped — a pair sharing several buckets appears once per bucket
    (the substring channel aggregates those rows into its match anchors,
    suffixes._anchor_pairs) — plus the hot-bucket stats."""
    if channel is None:
        assert "channel" in bucket_cols, "dynamic channel needs a channel bucket col"
    cols = list(bucket_cols)
    # Bucket sizes via groupBy + join-back, NOT a window count: groupBy
    # pre-aggregates map-side so a 10^7-row boilerplate bucket never lands
    # in one task, while partitionBy windows sort the whole bucket in a
    # single task (the skew the cap exists to prevent). The join-back is
    # skew-safe too (AQE skew-join splits it). Callers must pass a
    # materialized `bucketed` (Regime.reused) — both branches scan it.
    #
    # bsz >= 2 (r6, guide §2.3): singleton buckets can never pair — the
    # self-join's id < id condition and the hot path (bsz > cap >= 1)
    # both ignore them — yet on real corpora they are the vast majority
    # of bucket keys (r6 554k-turn rung: 7.26M of 7.37M distinct
    # substring fingerprints are singletons). Filtering them out of the
    # size table before the join-back shrinks both join inputs to the
    # rows that can actually produce pairs; the inner join then drops
    # their bucket rows too. Output pairs/hot-stats are identical.
    sizes = bucketed.groupBy(*cols).agg(F.count(F.lit(1)).alias("bsz")) \
        .filter(F.col("bsz") >= 2)
    # one row per bucket that can pair, read in full by the join below
    # (every size key is a bucket key), so the counts are exact whichever
    # leg's action runs it first
    for ch, obs in (hot_counts or {}).items():
        hot_ch = F.col("bsz") > cap
        if channel is None:
            hot_ch &= F.col("channel") == ch
        sizes = sizes.observe(obs, F.count_if(hot_ch).alias("hot_buckets"))
    tagged = bucketed.join(sizes, cols)
    # ``regime`` materializes the join-back ONCE for its four consumer
    # legs (small x/y self-join, hot, hot_min; hot_stats is a fifth).
    # Without it each leg re-runs the size join over the full bucket
    # table — r6 rung (VERDICT.md item 4): the tagged table is 1.9M rows
    # where the bucket table is 8.4M, and materializing it cut the substr
    # expansion 10.5 s -> 8.4 s with identical pairs. The flat barrier
    # keeps the bucket table's hash layout, so the legs join it with no
    # exchange; it joins the regime's sweep. Without a regime it stays
    # lazy.
    if regime is not None:
        tagged = regime.reused(tagged)

    small = tagged.filter(F.col("bsz") <= cap).drop("bsz")
    x = small.alias("x")
    y = small.alias("y")
    cond = [F.col(f"x.{c}") == F.col(f"y.{c}") for c in cols] + [
        F.col(f"x.{id_col}") < F.col(f"y.{id_col}")
    ]
    s_chan = F.col("x.channel") if channel is None else F.lit(channel)
    small_pairs = x.join(y, cond).select(
        F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"),
        s_chan.alias("channel"),
        *[F.col(f"x.{p}").alias(f"{p}_a") for p in payload_cols],
        *[F.col(f"y.{p}").alias(f"{p}_b") for p in payload_cols],
    )

    hot = tagged.filter(F.col("bsz") > cap)
    if hot_policy == "salt":
        # blocking-key salting: sub-bucket by pmod(xxhash64(id), s),
        # s sized so each sub-bucket ~<= cap members
        salted = hot.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.col(id_col), F.lit(salt_seed)),
                F.greatest(F.ceil(F.col("bsz") / cap), F.lit(1)),
            ),
        )
        hx, hy = salted.alias("hx"), salted.alias("hy")
        hcond = [F.col(f"hx.{c}") == F.col(f"hy.{c}") for c in cols] + [
            F.col("hx._salt") == F.col("hy._salt"),
            F.col(f"hx.{id_col}") < F.col(f"hy.{id_col}"),
        ]
        h_chan = F.col("hx.channel") if channel is None else F.lit(channel)
        hot_pairs = hx.join(hy, hcond).select(
            F.col(f"hx.{id_col}").alias("a"), F.col(f"hy.{id_col}").alias("b"),
            h_chan.alias("channel"),
            *[F.col(f"hx.{p}").alias(f"{p}_a") for p in payload_cols],
            *[F.col(f"hy.{p}").alias(f"{p}_b") for p in payload_cols],
        )
    else:
        # star: connect every member to the bucket minimum — O(m) edges,
        # the bucket stays one connected component in the pair graph.
        # min_by ties to the same min row the F.min picks, so payload_a
        # is the hub's payload.
        hot_min = hot.groupBy(*cols).agg(
            F.min(id_col).alias("a"),
            *[F.min_by(p, id_col).alias(f"{p}_a") for p in payload_cols],
        )
        h_chan = F.col("channel") if channel is None else F.lit(channel)
        hot_pairs = (
            hot.join(hot_min, cols)
            .filter(F.col(id_col) != F.col("a"))
            .select(
                "a", F.col(id_col).alias("b"), h_chan.alias("channel"),
                *[F.col(f"{p}_a") for p in payload_cols],
                *[F.col(p).alias(f"{p}_b") for p in payload_cols],
            )
        )

    # every path emits a < b by construction (x.id < y.id join condition;
    # star hub = bucket min), so no least/greatest normalization — it
    # would have to swap payload suffixes too
    hot_stats = hot.groupBy(*cols).agg(F.max("bsz").alias("bucket_size"))
    return small_pairs.unionByName(hot_pairs), hot_stats


def channel_bucket_table(features: DataFrame, cfg: DedupConfig,
                         channels: tuple[str, ...]) -> DataFrame:
    """(id, sig, simhash) features -> the unified MinHash+SimHash bucket
    table (channel, id, bkt_id, bkt_hash, simhash), hash-partitioned on
    its bucket key, for ``pairs_from_buckets(channel=None,
    payload_cols=("simhash",))``.

    One leg per requested channel: LSH bands for ``minhash_lsh``, Hamming
    probe-table keys for ``simhash``. Both channels' buckets then expand
    through ONE shuffle chain. The simhash payload column is always
    present — null on band rows, typed to the fingerprint layout
    (config.py simhash_bits: long at 64, array<bigint> lanes at 128) so
    the union stays type-compatible — and rides through the pair
    expansion, making Hamming verification a projection of the pair
    table: no join for the channel whose candidate count can go
    quadratic (verify.py r4 note).
    """
    legs = []
    if "minhash_lsh" in channels:
        legs.append(band_table(features, cfg).select(
            F.lit("minhash_lsh").alias("channel"), "id",
            F.col("band_id").alias("bkt_id"),
            F.col("band_hash").alias("bkt_hash"),
            F.lit(None)
            .cast("long" if cfg.simhash_bits == 64 else "array<bigint>")
            .alias("simhash"),
        ))
    if "simhash" in channels:
        legs.append(hamming_block_table(features, cfg).select(
            F.lit("simhash").alias("channel"), "id",
            F.col("table_id").alias("bkt_id"),
            F.col("key_hash").alias("bkt_hash"), "simhash",
        ))
    return reduce(DataFrame.unionByName, legs).repartition(
        "channel", "bkt_id", "bkt_hash")


def mh_sh_candidates(features: DataFrame, cfg: DedupConfig,
                     channels: tuple[str, ...], regime: Regime,
                     hot_counts: dict[str, Observation] | None = None) -> DataFrame:
    """Features -> the MinHash+SimHash candidate pairs (a, b, channel,
    simhash_a, simhash_b) of the requested ``channels``: the one
    MinHash/SimHash candidate builder, the pipeline's chain and the one
    ``audit.channel_outputs`` scores. The input carries ``sig`` when
    ``minhash_lsh`` is requested and ``simhash`` when ``simhash`` is (both
    for textkernel.featurize's output); any (id, sig array<long>) or
    (id, simhash) frame rides it, e.g. ICWS signatures (wminhash.py,
    which relabels its rows) or image perceptual hashes (multimodal.py).

    The unified bucket table passes a barrier (pairs_from_buckets
    contract: the sizes groupBy and the join-back both scan it, and it
    keeps its hash layout through the barrier) that joins ``regime``'s
    sweep. ``hot_counts`` as in pairs_from_buckets, one per channel.
    """
    both = regime.reused(channel_bucket_table(features, cfg, channels))
    pairs, _ = pairs_from_buckets(
        both, cfg.bucket_cap,
        bucket_cols=("channel", "bkt_id", "bkt_hash"), channel=None,
        hot_policy=cfg.hot_bucket_policy, salt_seed=cfg.seed,
        payload_cols=("simhash",), regime=regime, hot_counts=hot_counts,
    )
    return pairs


def lsh_candidate_prob(s: float, bands: int, rows: int) -> float:
    """The banding S-curve: Pr[candidate | Jaccard s] = 1 - (1 - s^r)^b."""
    return 1.0 - (1.0 - s ** rows) ** bands


def optimal_bands(
    num_perm: int,
    threshold: float,
    fp_weight: float = 0.5,
    max_rows: int = 32,
) -> tuple[int, int]:
    """Pick (bands, rows) for a target Jaccard threshold.

    Minimizes the S-curve's total misclassification mass around the
    threshold — ``fp_weight * ∫_0^t p(s) ds + (1-fp_weight) * ∫_t^1
    (1-p(s)) ds`` with p the candidate probability above (the same
    objective datasketch's MinHashLSH tunes; trapezoid over 256 points).
    Search space: every (b, r) with r <= max_rows and b*r <= num_perm,
    using as many of the budgeted permutations as the best (b, r) shape
    allows. fp_weight > 0.5 biases toward fewer false candidates (cheaper
    verify stage); < 0.5 toward recall.

    The default pipeline config (32 bands x 4 rows at threshold ~0.42)
    stays hand-picked for the contract corpus; this is the sizing tool
    for OTHER thresholds — e.g. tuned_config(0.8) for strict near-dup.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    xs = [i / 256.0 for i in range(257)]
    best, best_err = (1, 1), float("inf")
    for rows in range(1, max_rows + 1):
        bands = num_perm // rows
        if bands < 1:
            break
        fp = fn = 0.0
        for x0, x1 in zip(xs, xs[1:]):
            mid = (x0 + x1) / 2.0
            p = lsh_candidate_prob(mid, bands, rows)
            if mid < threshold:
                fp += p * (x1 - x0)
            else:
                fn += (1.0 - p) * (x1 - x0)
        err = fp_weight * fp + (1.0 - fp_weight) * fn
        if err < best_err:
            best, best_err = (bands, rows), err
    return best


def tuned_config(threshold: float, num_perm: int = 128,
                 fp_weight: float = 0.5, **overrides) -> DedupConfig:
    """DedupConfig with (lsh_bands, lsh_rows) solved for ``threshold``
    via optimal_bands; num_perm snaps to bands*rows so no permutation is
    computed and never read. Other fields pass through ``overrides``."""
    bands, rows = optimal_bands(num_perm, threshold, fp_weight)
    return DedupConfig(
        num_perm=bands * rows, lsh_bands=bands, lsh_rows=rows,
        jaccard_threshold=threshold, **overrides,
    )
