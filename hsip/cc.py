"""X1-X3 — connected components via alternating large-star / small-star
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, SoCC 2014).

Converges in O(log^2 n) rounds (O(log n) observed); every round is two
groupBy+join passes over the edge set. Lineage is truncated each round
by the caller's regime (``Regime.truncate``, hsip/barrier.py; plan growth
is exponential otherwise — SURVEY.md §4.2.3), and the blocks go on its
sweep; convergence is detected with a cheap (count, hash-sum) checksum
action instead of a full set comparison.

Output convention (X2): cluster_id = min id in the component; singletons
keep their own id. Pair-recall is label-invariant so the convention only
needs to be deterministic (BASELINE.json:2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .barrier import Regime, job_label, session_conf
from .metrics import observed


def _large_star(e: DataFrame) -> DataFrame:
    """Connect each strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("m"))
    mins = mins.withColumn("m", F.least("m", "src"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low; connect all neighbors (and u) to the min."""
    lo = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = lo.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = lo.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).cast("string").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_union_find(sel: DataFrame) -> DataFrame:
    """Finish a small edge set in ONE single-task Spark job.

    ``sel`` is (src, dst), self-loop-free, deduped, and already
    lineage-truncated by the caller (so the coalesced scan reads a flat
    checkpointed RDD, never the upstream pair DAG). The scan is
    coalesced (no shuffle) into one task that runs a vectorized
    min-label union-find: hook every edge's higher root onto the lower
    via ``np.minimum.at``, then pointer-double to a fixpoint — O(log n)
    numpy passes, no per-edge Python loop. ``np.unique`` sorts ids with
    the same code-point (binary) order Spark's ``min`` uses on strings,
    so the min-id labeling convention is bit-identical to the
    distributed star loop (pinned by tests/test_cc_local.py).
    """
    import numpy as np
    import pandas as pd

    id_type = sel.schema["src"].dataType
    out_schema = StructType(
        [StructField("id", id_type, False), StructField("cluster_id", id_type, False)]
    )

    def _finish(batches):
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        vals = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True).to_numpy()
        ids, inv = np.unique(vals, return_inverse=True)
        m = len(pdf)
        u, v = inv[:m], inv[m:]
        parent = np.arange(len(ids))
        while True:
            before = parent.copy()
            pu, pv = parent[u], parent[v]
            np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
            while True:
                gp = parent[parent]
                if np.array_equal(gp, parent):
                    break
                parent = gp
            if np.array_equal(parent, before):
                break
        yield pd.DataFrame({"id": ids, "cluster_id": ids[parent]})

    return sel.coalesce(1).mapInPandas(_finish, schema=out_schema)


def connected_components(
    edges: DataFrame,
    regime: Regime,
    max_iter: int = 50,
    local_max_edges: int = 1_000_000,
) -> DataFrame:
    """edges(a, b) -> (id, cluster_id); covers only ids present in edges.

    Use ``assign_clusters`` to extend to singleton ids.

    Scale-adaptive plan selection: the star loop's cost at small scale
    is not compute but *latency* — ~10 driver round-trips per round
    (BENCH/BASELINE.md round 5), a serial floor that no executor count
    amortizes. When the DISTINCT edge set is at most ``local_max_edges``
    rows, the graph is finished instead by ``_local_union_find``: one
    single-task job, zero iterations. 1M string edges is ~tens of MB in
    that task — comfortably inside one executor core's memory. Above
    the threshold (the 10^12-turn regime) the iterative
    large-star/small-star loop runs exactly as before; both paths
    produce identical rows and the same min-id labels. Set
    ``local_max_edges=0`` to force the distributed loop.

    Order matters: the edge set is deduped and lineage-truncated ONCE
    (``regime.truncate``, the ``cc_edges`` job, which also counts it)
    before either physical path consumes it. Counting the raw plan
    instead would re-execute the whole upstream pair DAG per action —
    below the pipeline's eager-barrier threshold that DAG is
    cached-but-not-checkpointed and its feature caches are already
    released, so every extra action re-ran the 3-channel verify
    (measured ~3.2 s per action on the 57k-turn bench corpus, turning
    the fast path into a net loss before this ordering).

    Every round is truncated the same way, reliably when the regime has
    a ``checkpoint_dir`` (an executor loss then recovers from the
    checkpoint instead of recomputing a truncated lineage that no longer
    exists; SURVEY §4.2.3, VERDICT.md r1 finding 7). Each round's blocks
    are dropped once the next round has materialized; the returned frame
    reads the last round's, which ``regime`` releases with its sweep.
    """
    spark = edges.sparkSession
    sc = spark.sparkContext
    sel = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        if set(edges.columns) >= {"a", "b"}
        else edges.select(F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    # Dedupe + truncate FIRST (see docstring): one materialization, with
    # ambient AQE still on for this one genuinely-large shuffle (skew
    # handling matters for the initial distinct at 10^12-turn scale; the
    # AQE-off tuning below targets the loop's tiny per-round exchanges).
    obs = Observation()
    e = regime.truncate(sel.distinct().observe(obs, F.count(F.lit(1)).alias("n")),
                        "cc_edges")
    regime.sweep.append(e)
    if local_max_edges > 0 and observed(obs, "cc_edges")["n"] <= local_max_edges:
        return _local_union_find(e)

    # Latency-tune the iterative loop: each round is tiny (the edge set
    # shrinks toward one row per member) but drives 5-6 exchanges, and
    # with AQE every exchange becomes its own stage-materialization job —
    # ~10 driver round-trips per round, a pure serial floor that the
    # event-log decomposition (BENCH/BASELINE.md round 5) measured at
    # ~16 s per run regardless of executor count. AQE's runtime re-plan
    # buys nothing here (sizes are known-small after round 0), so run
    # the loop with AQE off and a small fixed shuffle width instead.
    with session_conf(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(max(8, 2 * sc.defaultParallelism)),
    }):
        prev = _checksum(e)
        for rnd in range(max_iter):
            with job_label(sc, f"cc_round_{rnd}"):
                nxt = regime.truncate(_small_star(_large_star(e)))
                # swept at once, so a failed loop is released too; a round
                # dropped below is dropped again by the sweep as a no-op
                regime.sweep.append(nxt)
                cur = _checksum(nxt)
            e.unpersist()  # nxt's lineage no longer reaches e's blocks
            e = nxt
            if cur == prev:
                break
            prev = cur
        else:
            # the extraction below assumes a CONVERGED star graph;
            # falling through would silently label one component with
            # several cluster_ids (under-merged duplicates shipped into
            # training splits with no signal). Fail loudly instead —
            # max_iter bounds rounds far above the O(log n) expectation,
            # so hitting it means something is wrong, not slow.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "star rounds; raise max_iter or inspect the edge set"
            )
    # converged: star graphs, every edge points (member -> component min)
    members = e.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    return members.unionByName(roots).groupBy("id").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def assign_clusters(
    all_ids: DataFrame, edges: DataFrame, regime: Regime, id_col: str = "id",
) -> DataFrame:
    """X2: full cluster table over every id; singletons -> own id. The
    connected-components blocks join ``regime``'s sweep."""
    comp = connected_components(edges, regime)
    ids = all_ids.select(F.col(id_col).alias("id")).distinct()
    return ids.join(comp, "id", "left").select(
        "id", F.coalesce("cluster_id", "id").alias("cluster_id")
    )


def canonical_representatives(clusters: DataFrame) -> DataFrame:
    """X3: one keeper row per cluster (min id — deterministic)."""
    return clusters.groupBy("cluster_id").agg(
        F.min("id").alias("representative"), F.count(F.lit(1)).alias("cluster_size")
    )


def quality_representatives(
    clusters: DataFrame, scores: DataFrame,
    id_col: str = "id", score_col: str = "score",
) -> DataFrame:
    """X3 variant: quality-aware keeper per cluster — the RefinedWeb /
    CCNet-style policy of keeping the *best* member of a duplicate
    cluster rather than an arbitrary one (max score, ties broken by max
    id, fully deterministic).

    Physical shape: ``max(struct(score, id))`` — lexicographic struct
    max is JVM-side with a map-side ``partial_max`` combine, so at
    10^12 rows the exchange carries one (cluster_id, struct) row per
    map partition, never the member table. Spark plans it as a
    SortAggregate (struct agg buffers are not hash-aggregable) — the
    per-partition sort is on the *combined* partials, not a window
    sort over every cluster's members.
    """
    # LEFT join: a member missing from ``scores`` still counts toward
    # cluster_size and can still be the keeper of an all-unscored
    # cluster (max id, null rep_score) — but a null score never beats a
    # real one (null-first struct ordering under max, pinned by test).
    joined = clusters.join(
        scores.select(F.col(id_col).alias("id"), F.col(score_col).alias("_s")),
        "id",
        "left",
    )
    best = F.max(F.struct(F.col("_s"), F.col("id"))).alias("_best")
    return (
        joined.groupBy("cluster_id")
        .agg(best, F.count(F.lit(1)).alias("cluster_size"))
        .select(
            "cluster_id",
            F.col("_best.id").alias("representative"),
            F.col("_best._s").alias("rep_score"),
            "cluster_size",
        )
    )


def tier_score_col(fixed_channels: tuple[str, ...] = ("simhash", "substr",
                                                      "exact")) -> Column:
    """Per-pair tier score over a combine_verified row: pairs verified by
    a FIXED-threshold channel count as edges at every tier (score 1.0);
    minhash-only pairs score their exact jaccard.

    Keyed on the verdict-true ``channels`` set, NOT on jaccard being
    null: a simhash/substr-verified pair that ALSO surfaced as an LSH
    candidate carries that candidate's (possibly sub-threshold) exact
    jaccard, and scoring it by that value would drop the edge from high
    tiers while an identical pair LSH never proposed kept 1.0."""
    fixed = F.arrays_overlap(
        F.col("channels"), F.array(*[F.lit(c) for c in fixed_channels]))
    return (F.when(fixed, F.lit(1.0))
            .otherwise(F.coalesce(F.col("jaccard"), F.lit(1.0))))


def tiered_clusters(
    all_ids: DataFrame,
    scored_pairs: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.7, 0.9),
    id_col: str = "id",
    score_col: str = "jaccard",
    *,
    regime: Regime,
) -> DataFrame:
    """Multi-threshold ("tiered") duplicate clustering: ONE scored pair
    table -> a cluster label per aggressiveness tier, one row per id
    with columns ``cluster_t{int(t*100)}``. The curation pattern behind
    tiered dedup releases: publish a single dedup artifact and let each
    training run pick conservative (high threshold — only near-identical
    text merged) or aggressive (low threshold) dedup at read time,
    without re-running candidate generation.

    Scale shape: candidate generation and verification are paid ONCE
    (the caller's pipeline); each tier is a filter over the cached
    scored pairs followed by a CC run on a NESTED, strictly shrinking
    edge set (t_hi edges are a subset of t_lo edges). Per-tier labels
    join back on the id key — k tiers = k narrow (id, label) joins, no
    text movement anywhere. Labels keep the min-id convention, so a
    tier's labels are independently stable under partitioning. The
    scored pairs (``regime.reused``) and every tier's CC blocks join
    ``regime``'s sweep, for the caller to release once the labels have
    materialized.
    """
    if not thresholds:
        raise ValueError("need at least one threshold")
    ids = all_ids.select(F.col(id_col).alias("id")).distinct()
    pairs = regime.reused(scored_pairs.select("a", "b", score_col))
    out = ids
    for t in sorted(thresholds):
        e = pairs.filter(F.col(score_col) >= float(t)).select("a", "b")
        lab = assign_clusters(ids, e, regime)
        col = f"cluster_t{int(round(t * 100)):02d}"
        out = out.join(lab.withColumnRenamed("cluster_id", col), "id")
    return out
