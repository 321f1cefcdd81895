"""Record-linkage fuzzy matching — blocked edit-distance name pairing.

The classical record-linkage pipeline (Fellegi-Sunter JASA'69; Christen
TKDE'12 survey): normalize -> block -> compare -> classify. The compare
step here is plain Levenshtein edit distance — JVM-side ``F.levenshtein``
inside WholeStageCodegen, never Python — and blocking reuses the same
generic bucket->pair expansion as every dedup candidate channel
(lsh.pairs_from_buckets): a blocking key is just another bucket key, so
hot-block capping, star/salt pairing, and truncation metrics come for
free ("no silent caps").

Scale shape: the compare cost is O(sum_b |block_b|^2) over DISTINCT
names, not corpus rows — names are aggregated (with occurrence counts)
before pairing, so a 100-TB corpus with 10^5 distinct entity names
compares 10^5-scale blocks regardless of row count. The aggregation is
a map-side-combined groupBy (one shuffle keyed by name); the pair join
shuffles only the distinct-name table. Blocks above ``block_cap``
degrade to the capped policies with logged truncation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .barrier import Regime
from .lsh import pairs_from_buckets
from .metrics import Recorder


def distinct_names(df: DataFrame, name_col: str,
                   block_expr: Column | None = None) -> DataFrame:
    """(rows) -> (name, n, blk): one row per distinct name with its
    occurrence count and blocking key.

    Default blocking key is the trailing alphanumeric run of the
    LOWERCASED name — the coarse "same entity type" block for
    adjective-noun style names, robust to case, digits, and trailing
    punctuation ('ACME CORP' -> 'corp', 'unit 7' -> '7', 'smith jr.'
    -> 'jr'; a bare [a-z]+$ on the raw name would map all of those to
    one shared '' mega-block). Callers with domain keys (soundex'd
    surname, zip prefix, brand) pass ``block_expr``, written against
    the aggregated frame where the name column is spelled ``name``.
    """
    if block_expr is None:
        block_expr = F.regexp_extract(
            F.lower(F.col("name")), "([a-z0-9]+)[^a-z0-9]*$", 1)
    return (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("blk", block_expr)
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 3,
    block_expr: Column | None = None,
    block_cap: int = 10_000,
    recorder: Recorder | None = None,
    *,
    regime: Regime,
) -> DataFrame:
    """Blocked fuzzy-duplicate name pairs:
    (name_a, name_b, n_a, n_b, dist) with dist <= max_dist, a < b.

    ``dist`` is exact Levenshtein (insert/delete/substitute, unit cost),
    evaluated ONLY within blocks — never all-pairs. The distinct-name
    table is materialized through ``regime`` (pairs_from_buckets scans it
    twice for skew-safe bucket sizing) and joins its sweep, for the
    caller to release once the output has materialized.
    """
    names = regime.reused(distinct_names(df, name_col, block_expr).repartition("blk"))
    pairs, hot_stats = pairs_from_buckets(
        names, block_cap, id_col="name", bucket_cols=("blk",),
        channel="levenshtein", payload_cols=("n",),
    )
    if recorder is not None:
        for row in hot_stats.collect():
            recorder.metric("linkage_block", str(row["blk"]),
                            float(row["bucket_size"]))
    return (
        pairs.select(
            F.col("a").alias("name_a"), F.col("b").alias("name_b"),
            "n_a", "n_b",
            F.levenshtein("a", "b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )
