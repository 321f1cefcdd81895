"""Incremental dedup: match NEW conversations against a persisted corpus
index without recomputing the corpus (SURVEY.md §2.9 batch analogue —
"join new convs' band table against persisted band index").

At 10^12 turns the full pipeline is a backfill; day-to-day operation is
appending a delta. The index is the features table (id, shingles, sig,
simhash) plus its derived band table persisted through the Catalog. For
a delta D against corpus C, candidates are (D x D) ∪ (D x C) — never
(C x C) — so the cost is O(|D| + matching buckets), not O(|C|).

New-vs-old bucket pairing is an equi-join of the delta's bucket keys
against the indexed bucket table: Catalyst broadcast-joins the delta
side when small, and only index partitions holding matching keys are
read when the index is stored bucketed/partitioned by key.

Skew control mirrors the batch LSH path (hsip/lsh.py): bucket sizes are
computed with groupBy (map-side combine) + join-back — never a
partitionBy window, which sorts a whole hot bucket in one task — and
over-cap buckets switch to star pairing against the bucket minimum,
with every truncation surfaced in the returned hot-bucket stats
(VERDICT.md r1 finding 3: no silent caps, no single-task stragglers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import verify as V
from .barrier import Regime
from .config import DedupConfig
from .lsh import band_table, pairs_from_buckets
from .textkernel import featurize

_BKEYS = ("band_id", "band_hash")


def build_index(docs: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> dict[str, DataFrame]:
    """Features + band table for persisting via Catalog.write."""
    feats = featurize(docs, id_col, text_col, cfg)
    bands = band_table(feats.select("id", "sig"), cfg)
    return {"features": feats, "bands": bands}


def incremental_candidates(
    new_feats: DataFrame,
    index_bands: DataFrame,
    cfg: DedupConfig,
    regime: Regime,
    new_bands: DataFrame | None = None,
    recorder=None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs touching at least one NEW document.

    Returns (pairs(a, b, channel), hot_bucket_stats); pairs carry the
    new doc on at least one side, a < b canonical. Pass ``new_bands``
    when the caller already built (and materialized) the delta band
    table. The delta band table and the semi-joined index slice are
    materialized through ``regime`` and join its sweep.
    ``recorder`` (hsip.metrics.Recorder) observes the hot-bucket count
    (the rows of hot_bucket_stats) on the new x new and index-side size
    tables, filled in by the action that runs the pairs.
    """
    if new_bands is None:
        new_bands = regime.reused(band_table(new_feats.select("id", "sig"), cfg))

    def hot_count():
        return recorder.observation("incremental_candidates", "hot_buckets_star_paired")

    # new x new within the delta: same capped expansion as the batch path
    nn, nn_hot = pairs_from_buckets(
        new_bands, cfg.bucket_cap, channel="minhash_lsh",
        hot_policy=cfg.hot_bucket_policy, salt_seed=cfg.seed,
        hot_counts=None if recorder is None else {"minhash_lsh": hot_count()},
    )

    # new x indexed corpus: only index buckets whose key appears in the
    # delta matter — semi-join first so the size aggregation never scans
    # cold buckets (partition/bucket pruning serves this on a real
    # cluster when the index is stored bucketed by key)
    delta_keys = new_bands.select(*_BKEYS).distinct()
    idx_hit = regime.reused(index_bands.join(delta_keys, list(_BKEYS), "left_semi"))

    sizes = idx_hit.groupBy(*_BKEYS).agg(F.count(F.lit(1)).alias("bsz"))
    if recorder is not None:
        # every size key is an idx_hit key, so the join below reads it all
        sizes = sizes.observe(
            hot_count(), F.count_if(F.col("bsz") > cfg.bucket_cap).alias("hot_buckets"))
    tagged = idx_hit.join(sizes, list(_BKEYS))
    small = tagged.filter(F.col("bsz") <= cfg.bucket_cap).drop("bsz")
    hot = tagged.filter(F.col("bsz") > cfg.bucket_cap)

    def _new_x(idx_side: DataFrame) -> DataFrame:
        return new_bands.alias("n").join(
            idx_side.alias("o"),
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_hash") == F.col("o.band_hash"))
            & (F.col("n.id") != F.col("o.id")),
        ).select(
            F.least("n.id", "o.id").alias("a"),
            F.greatest("n.id", "o.id").alias("b"),
        )

    # small buckets: every matching index member. Hot buckets: the delta
    # doc pairs with the bucket MIN plus ~k deterministically-sampled
    # members — a logged recall tradeoff mirroring the batch star policy,
    # NOT a guarantee (star edges are candidates; a failed verify against
    # one anchor would otherwise cost every match in that bucket —
    # ADVICE.md r2). Expected O((k+1) * |delta|) edges; the sample is
    # seed-deterministic (pmod of xxhash64) so reruns/resumes agree.
    k_anchor = max(1, cfg.hot_anchor_sample_k)
    hot_min = hot.groupBy(*_BKEYS).agg(F.min("id").alias("id"))
    hot_sampled = hot.filter(
        F.pmod(
            F.xxhash64("id", F.lit(cfg.seed)),
            F.greatest(F.ceil(F.col("bsz") / k_anchor), F.lit(1)),
        )
        == 0
    ).select(*_BKEYS, "id")
    hot_anchors = hot_min.unionByName(hot_sampled).dropDuplicates(
        [*_BKEYS, "id"]
    )
    no = _new_x(small).unionByName(_new_x(hot_anchors))

    idx_hot_stats = hot.groupBy(*_BKEYS).agg(F.max("bsz").alias("bucket_size"))
    hot_stats = nn_hot.unionByName(idx_hot_stats)

    pairs = (
        nn.drop("channel")
        .unionByName(no)
        .dropDuplicates(["a", "b"])
        .withColumn("channel", F.lit("minhash_lsh"))
    )
    return pairs, hot_stats


def incremental_verified_pairs(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    index_features: DataFrame,
    index_bands: DataFrame,
    cfg: DedupConfig,
    regime: Regime,
    new_feats: DataFrame | None = None,
    new_bands: DataFrame | None = None,
    recorder=None,
) -> DataFrame:
    """Full incremental slice: featurize the delta, generate delta-touching
    candidates, verify exact Jaccard against the union feature table.
    Pass ``new_feats``/``new_bands`` when the caller already built them;
    what this builds joins ``regime``'s sweep. ``recorder``
    (hsip.metrics.Recorder) observes the hot-bucket truncation count
    (``incremental_candidates``); read it with ``collect_observed`` once
    the output has materialized."""
    if new_feats is None:
        new_feats = regime.reused(featurize(new_docs, id_col, text_col, cfg))
    pairs, _ = incremental_candidates(
        new_feats, index_bands, cfg, regime, new_bands=new_bands, recorder=recorder
    )
    # delta features WIN on id overlap (an id in both sides is an updated
    # conversation): anti-join the index side instead of an arbitrary
    # dropDuplicates pick, so verification is deterministic (ADVICE.md r2)
    all_shingles = new_feats.select("id", "shingles").unionByName(
        index_features.select("id", "shingles").join(
            new_feats.select("id"), "id", "left_anti"
        )
    )
    return V.verify_jaccard(pairs, all_shingles, cfg, regime)


def minhash_decontaminate(
    train: DataFrame,
    train_id: str,
    train_text: str,
    evals: DataFrame,
    eval_id: str,
    eval_text: str,
    cfg: DedupConfig,
    regime: Regime,
    eval_bucket_cap: int = 8,
) -> DataFrame:
    """FUZZY cross-corpus decontamination: flag training docs whose
    shingle Jaccard against some eval/benchmark doc clears
    cfg.jaccard_threshold — the near-duplicate complement to
    suffixes.substr_decontaminate's exact-span flavor (a paraphrased or
    lightly-edited benchmark leak has no long exact span but high
    Jaccard).

    The D x C shape of this module, specialized: candidates are ONLY
    train x eval band-key matches — never train x train (self-dedup is
    the pipeline's job) and never eval x eval. The eval band table is
    tiny next to a training corpus, so it broadcasts: the train band
    stream is scanned once and never shuffled for pairing. Per band
    bucket the eval side caps at ``eval_bucket_cap`` deterministic
    min-id witnesses (one witness proves contamination; the train side
    is never capped — pair volume == answer size). Verification is
    exact Jaccard over the union feature table with "T|"/"E|"
    prefix-disambiguated ids, pair-pruned hydration.

    Output: (train_id, eval_id, jaccard, verdict); verify's pair table
    joins ``regime``'s sweep.
    """
    feats_t = featurize(train, train_id, train_text, cfg).select(
        F.concat(F.lit("T|"), F.col("id")).alias("id"), "shingles", "sig"
    )
    feats_e = featurize(evals, eval_id, eval_text, cfg).select(
        F.concat(F.lit("E|"), F.col("id")).alias("id"), "shingles", "sig"
    )
    bands_t = band_table(feats_t.select("id", "sig"), cfg)
    bands_e = (
        band_table(feats_e.select("id", "sig"), cfg)
        .groupBy(*_BKEYS)
        .agg(F.slice(F.sort_array(F.collect_list("id")), 1, eval_bucket_cap)
             .alias("es"))
        .select(*_BKEYS, F.explode("es").alias("b"))
    )
    pairs = (
        bands_t.join(F.broadcast(bands_e), list(_BKEYS))
        .select(F.col("id").alias("a"), "b")
        .dropDuplicates(["a", "b"])
        .withColumn("channel", F.lit("minhash_decontam"))
    )
    feats_all = feats_t.select("id", "shingles").unionByName(
        feats_e.select("id", "shingles")
    )
    verified = V.verify_jaccard(pairs, feats_all, cfg, regime)
    return verified.select(
        F.expr("substring(a, 3)").alias("train_id"),
        F.expr("substring(b, 3)").alias("eval_id"),
        "jaccard", "verdict",
    )
