"""End-to-end dedup pipeline: normalize -> block -> match -> cluster ->
report — the five reference stages (SURVEY.md §0.1), each re-expressed
Spark-first, wired with checkpoints + lineage + metrics.

Two frontends:
  run_documents(...)   — flat document table (id, text), fixture-friendly
  run_transcripts(...) — the authoritative input shape (BASELINE.json:15):
                         turn-version dedupe, reassembly under stable
                         (conv_id, turn_idx) order, then the same engine.

Every stage builds a logical plan; materialization happens only at the
stage checkpoint write (or the flat barrier, hsip/barrier.py, for
ephemeral runs). Candidate channels:
  minhash_lsh — Jaccard near-dups      (shingle -> MinHash -> LSH bands)
  simhash     — near-identical text    (bit-vote fingerprint -> Hamming blocks)
  substr      — long exact substrings  (winnowed rolling-hash fingerprints)
Any requested subset of {minhash_lsh, simhash} runs as ONE chain: one
fused featurization pass (textkernel.py), one unified bucket table, one
pair expansion and one verify; substr runs beside it on its own thread.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import verify as V
from .barrier import Regime, job_label
from .catalog import Catalog
from .cc import assign_clusters, canonical_representatives, quality_representatives
from .checkpoint import Checkpointer, fingerprint_aggs, fingerprint_str
from .config import DedupConfig
from .lsh import mh_sh_candidates
from .metrics import Recorder, StageTimer, observed
from .reassemble import dedupe_turn_versions, reassemble
from .suffixes import (
    exact_substr_within_groups,
    fingerprint_table,
    substr_candidates,
    verify_substr,
)
from .textkernel import featurize


@dataclass
class PipelineResult:
    """A run's result frames plus ``stats``, the same keys in ephemeral
    and warehouse runs unless noted:

    - ``stage_walls``: {stage: driver-observed seconds};
    - ``eager_barriers``, ``shuffle_width``: the run's Regime (eager, or
      latency at that shuffle width);
    - ``probe_key_entropy``: the simhash probe-key sizing check (simhash
      runs only);
    - ``n_docs``, ``verified_candidates``, ``duplicate_pairs``,
      ``dup_pairs_by_channel``: work counters over ``verified``;
    - ``caps``: {metric stage: {key: count}} for every cap a computed
      stage hit, 0 included: ``hot_buckets_star_paired`` per mh/sh
      channel, ``hot_fingerprints_star_paired`` and
      ``anchor_truncated_pairs`` for substr, and the span stages'
      ``groups_sub_bucketed`` and ``max_group_bytes``. Stages a resume
      skipped record none;
    - ``broadcast_hydration``: {verify stage: {"broadcast": taken or
      declined, "measured_size_bytes": the bytes behind it, None when
      unmeasured}};
    - ``skipped_stages``, ``computed_stages``: warehouse runs only.
    """

    clusters: DataFrame
    verified: DataFrame
    representatives: DataFrame
    run_id: str
    stats: dict = field(default_factory=dict)
    # cfg.extract_spans_group_col only: per-group exact duplicate spans
    duplicate_spans: DataFrame | None = None
    # cfg.remove_spans_group_col only: rewritten docs
    # (id, text, text_clean, n_removed) with duplicate spans excised
    docs_cleaned: DataFrame | None = None


def _run_channels(spark: SparkSession, builders) -> list[DataFrame]:
    """Run the candidate channels' build chains as CONCURRENT Spark jobs.

    Each channel's chain is a handful of short shuffle stages (bucket
    repartition + size groupBy + pair join) whose last task waves leave
    executors idle; serialized, those idle tails add up to ~20% of wall
    at small executor counts (BENCH/BASELINE.md). Submitting the chains
    from separate threads (one FAIR scheduler pool each — see session.py)
    lets one channel's tasks backfill another's straggler waves. Shared
    upstream frames (base, features) pass an eager barrier
    (hsip/barrier.py) before any consumer reads them, so no subtree
    is recomputed concurrently (the lazy-cache trap the barriers exist
    to prevent).

    Checkpointed runs are safe too: each stage writes its own table and
    the Recorder only appends driver-side. Channel order in the result is
    the caller's ``builders`` order regardless of completion order.

    Same-session A/B on the 554k-turn corpus (BENCH/BASELINE.md r3):
    concurrent beats sequential at BOTH 1-core (286.8 s vs 303.3 s —
    planning of one chain overlaps execution of another even with a
    single task slot) and 4-core executors (150.3 s vs 172.8 s).
    """
    sc = spark.sparkContext
    if len(builders) <= 1:
        return [build() for _, build in builders]
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, build = item
        # per-thread pool: FAIR across channels, created on demand
        sc.setLocalProperty("spark.scheduler.pool", f"hsip-{name}")
        try:
            return build()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with ThreadPoolExecutor(max_workers=len(builders)) as ex:
        return list(ex.map(run, builders))


CHANNELS = ("minhash_lsh", "simhash", "substr")


def _check_channels(channels: tuple[str, ...]) -> None:
    """Reject an empty or misspelled channel list up front: an unknown
    name would silently drop that channel's recall, and no channel at
    all leaves nothing to verify."""
    if not channels or not set(channels) <= set(CHANNELS):
        raise ValueError(
            f"channels must be a non-empty subset of {CHANNELS}, "
            f"got {tuple(channels)!r}"
        )


def run_documents(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig,
    channels: tuple[str, ...] = ("minhash_lsh", "simhash", "substr"),
    warehouse: str | None = None,
    run_id: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """Dedup a flat (id, text) table into clusters.

    With ``warehouse`` set, every stage is checkpointed through the
    Catalog and the run is resumable under the same run_id + config
    fingerprint; without it, reused stages pass the flat in-memory
    barrier (hsip/barrier.py; reliable when cfg.cc_checkpoint_dir is
    set).
    ``resume=False`` forces recomputation of every stage (checkpoints
    are overwritten) even when matching ones exist for the run_id.
    """
    _check_channels(channels)
    run_id = run_id or uuid.uuid4().hex[:12]
    use_ckpt = warehouse is not None
    catalog = Catalog(spark, warehouse) if use_ckpt else None
    # how every barrier of this run materializes: flat blocks in ephemeral
    # runs, cache+count (lineage kept) in warehouse runs (hsip/barrier.py)
    regime = Regime.for_run(cfg, warehouse)

    # Always materialize base: >1 channel consumes it. Eager barriers
    # matter: AQE materializes independent query-stage futures
    # concurrently, so a lazily-cached subtree gets recomputed by every
    # concurrent consumer before the cache populates — measured 9,546
    # CPU-s of task time vs ~300 intrinsic on the 554k-turn corpus (each
    # channel re-running reassembly+normalization). One barrier job per
    # reused frame serializes the dependency order and caps total work.
    # The barrier's pass also counts the docs and, for a checkpointed run,
    # takes the input fingerprint: stage fingerprint = config + INPUT
    # content, so resuming the same run_id over changed data recomputes
    # instead of serving stale checkpoints (ADVICE.md r2).
    aggs = fingerprint_aggs() if use_ckpt else fingerprint_aggs()[:1]
    obs = Observation()
    base = regime.barrier(
        docs.select(
            F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text")
        ).observe(obs, *aggs),
        "materialize",
    )
    seen = observed(obs, "materialize")
    n_docs = seen["n"]
    fp = cfg.fingerprint()
    if use_ckpt:
        fp = f"{fp}-{fingerprint_str(seen)}"
    ckpt = (
        Checkpointer(catalog, run_id, fp, enabled=use_ckpt, reuse=resume)
        if use_ckpt
        else None
    )
    # in memory without a warehouse: both modes record the same counts
    rec = Recorder(spark, catalog, run_id)

    stage_walls: dict[str, float] = {}

    def stage(name: str, build, reuse: bool = True, swept: bool = False):
        # per-stage wall (driver-observed, includes materialization for
        # eager stages; ~0 for lazy reuse=False stages whose execution
        # folds into the downstream consumer). Surfaces in
        # PipelineResult.stats["stage_walls"] -> BENCH_r{N}.json so a
        # straggler hunt doesn't need the event log (VERDICT.md r3 item 9).
        # Ephemeral mode labels the stage's jobs, the barriers nested in
        # its build included, and materializes reused stages through the
        # flat barrier: downstream consumers plan over one leaf instead
        # of the stage's whole logical tree (PLANS.md). ``swept`` stages
        # release with the regime's sweep.
        t0 = time.time()
        if ckpt:
            with StageTimer(rec, name):
                out = ckpt.materialize(name, build)
            # from the committed files' metadata, skipped stages included
            rec.lineage(name, ckpt.partition_rows(name), fp)
        else:
            with job_label(spark.sparkContext, name):
                out = build()
                if reuse:
                    out = regime.barrier(out)
        stage_walls[name] = round(time.time() - t0, 3)
        if swept:
            regime.sweep.append(out)
        return out

    stats: dict = {"stage_walls": stage_walls}
    mh_sh = tuple(c for c in ("minhash_lsh", "simhash") if c in channels)

    # the run's physical regime, decided once from its size (hsip/barrier.py
    # Regime.fit; r6 A/B at 57k turns: latency 10.4 s -> 7.8 s, identical
    # output)
    regime.fit(spark, cfg, n_docs)
    stats["eager_barriers"] = regime.eager
    stats["shuffle_width"] = regime.width
    # the sweep and base release on exit, whether or not the run succeeds
    with regime.applied(spark, base) as base:

        if "simhash" in channels:
            # key-entropy advisory (config.py simhash_bits sizing rule): fail
            # LOUDLY when the corpus outgrows the probe keys' collision budget
            # instead of silently flooding verify with random candidates
            from .simhash import probe_key_entropy

            entropy = probe_key_entropy(cfg, n_docs)
            stats["probe_key_entropy"] = entropy
            rec.metric("simhash_candidates", "probe_key_bits", entropy["key_bits"])
            rec.metric(
                "simhash_candidates", "probe_key_bits_needed", entropy["needed_bits"]
            )
            if not entropy["ok"]:
                import warnings

                warnings.warn(
                    f"simhash probe keys carry {entropy['key_bits']:.0f} bits but "
                    f"{entropy['needed_bits']:.1f} are needed at n_docs={n_docs} "
                    f"(expected random collisions "
                    f"{entropy['expected_random_collisions']:.2e}); raise "
                    "hamming_blocks-hamming_d key width or simhash_bits "
                    "(config.py sizing rule)",
                    stacklevel=2,
                )

        # barriers and caches whose LAST consumer is the channel verify
        # phase go to regime.sweep, released in one go after the `verified`
        # stage materializes, so a long session running many pipelines
        # doesn't accrete executor storage (VERDICT.md r3 item 5). Threads
        # only append (GIL-atomic).

        # Exact-collapse pre-pass (config.py collapse_exact): byte-identical
        # texts are grouped on a 16-byte md5 key and every channel sees ONE
        # representative (the group min-id) per distinct text; the remaining
        # members re-enter as pre-verified ``exact``-channel edges, so CC
        # reconstitutes the full clusters. Channel verdicts are functions of
        # the text alone, so substituting a byte-equal rep changes no verdict
        # — only the candidate count, which inside an n-copy hot bucket drops
        # from O(n) star edges per band/table to one rep row. Cost: one
        # column-pruned shuffle of (md5, id) for the group-min, one shuffle
        # of base joining reps back. At 10^12 turns this is the standard
        # exact-then-near layout (CCNet/RefinedWeb): near-dup work scales
        # with DISTINCT texts, not copies.
        exact_edges = None
        chan_base = base
        if cfg.collapse_exact:
            def build_collapse():
                # coalesce: null text keys as "" (an equi-join would silently
                # drop null keys); channels normalize null the same way
                tkey = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
                keyed = base.select("id", "text", tkey.alias("_tkey"))
                reps = keyed.groupBy("_tkey").agg(F.min("id").alias("_rep"))
                return keyed.join(reps, "_tkey").select("id", "text", "_rep")

            collapsed = stage("exact_collapse", build_collapse, swept=True)
            exact_edges = (
                collapsed.filter(F.col("id") != F.col("_rep"))
                .select(F.col("_rep").alias("a"), F.col("id").alias("b"),
                        F.lit("exact").alias("channel"),
                        F.lit(True).alias("verdict"))
            )
            chan_base = collapsed.filter(F.col("id") == F.col("_rep")).select(
                "id", "text"
            )

        def _mh_sh_channel() -> DataFrame:
            """MinHash+SimHash chain for any requested subset of the two
            (VERDICT.md r2 item 1): the channels' buckets union into ONE
            materialized table, expand through ONE shuffle chain, and
            verify through ONE hydration against the features table —
            roughly half the shuffle stages of two separate chains, with
            identical pairs and verdicts (pinned by tests/test_e2e_oracle.py's
            3-channel brute-force oracle).

            Featurization is built HERE, not before the channels fork, so
            the substring channel — which reads only `base` — starts at t=0
            and overlaps the featurization pass instead of waiting behind
            it (BENCH/BASELINE.md round 5: ~107 s of 4-slot wall at 2.76M
            turns ran before the channels forked)."""
            feats = stage("features",
                          lambda: featurize(chan_base, "id", "text", cfg), swept=True)

            def build_cands():
                # a count per requested channel, so a 0 reads as "measured,
                # none hot" rather than "not measured"; observed by the
                # action that runs the pairs (checkpoint write or verify)
                hot_counts = {ch: rec.observation(f"{ch}_candidates",
                                                  "hot_buckets_star_paired")
                              for ch in mh_sh}
                return mh_sh_candidates(feats, cfg, mh_sh, regime, hot_counts)

            cands = stage("candidates_mh_sh", build_cands, reuse=False)
            # materialize the channel's verdicts ON THIS THREAD (r6): lazy
            # output folded the whole hydrate+verify chain into the single
            # `verified` job on the main thread, serializing it against the
            # other channel's tail; materializing here overlaps the two
            # channels' verify work (the FAIR-pool design _run_channels
            # exists for). The flat barrier also spares the combine/stats/CC
            # actions the multi-second canonicalization of the channel's
            # full tree (r6 rung event log: 2.5 s + 1.4 s of driver gap
            # planning `verified` over two cached channel outputs).
            return stage("verify_mh_sh", lambda: V.verify_jaccard_hamming(
                cands, feats, cfg, regime), swept=True)

        def _sub_channel() -> DataFrame:
            # materialized: the bucket expansion filters this table along two
            # branches
            fps = stage("substr_fps", lambda: fingerprint_table(chan_base, "id", "text", cfg),
                        swept=True)

            def build_substr():
                pairs, _ = substr_candidates(
                    fps, cfg, regime,
                    hot_counts=rec.observation("substr_candidates",
                                               "hot_fingerprints_star_paired"),
                    truncated=rec.observation("substr_candidates",
                                              "anchor_truncated_pairs"),
                )
                return pairs

            sub_pairs = stage("substr_candidates", build_substr, reuse=False)
            # same in-thread materialization as verify_mh_sh (r6): the span
            # UDF runs here, overlapped with the mh_sh channel, instead of
            # inside the serial `verified` job
            return stage("verify_substr", lambda: verify_substr(
                sub_pairs, chan_base, "id", "text", cfg, regime), swept=True)

        builders = []
        if mh_sh:
            builders.append(("mh_sh", _mh_sh_channel))
        if "substr" in channels:
            builders.append(("substr", _sub_channel))

        verified_parts = _run_channels(spark, builders)
        if exact_edges is not None:
            # collapse-mode members re-enter as pre-verified edges; the union
            # + per-pair merge in combine_verified gives them the same
            # (a, b, channels, verdict) shape as channel output
            verified_parts = [*verified_parts, exact_edges]

        # Materialize `verified` ONCE, straight into a flat plan (parquet in
        # checkpoint mode, the flat barrier otherwise). Keeping the full
        # 3-channel logical plan behind a cached `verified` made every
        # downstream action (metric counts, the CC seed job,
        # representatives) re-run Catalyst over that thousand-node plan —
        # the event-log decomposition measured a ~14 s pure-driver gap on
        # the 2.76M-turn corpus just planning the CC seed (BENCH/BASELINE.md
        # round 5) — and a cached-only `verified` is fragile: the sweep
        # release below and the final base release clear dependent cache
        # buffers, so every later consumer re-executed the verify DAG.
        verified = stage("verified", lambda: V.combine_verified(*verified_parts))
        # `verified` just materialized, so every feature/band/bucket
        # barrier and cache has served its last consumer — release executor
        # storage before CC runs (VERDICT.md r3 item 5). Downstream stages
        # touch only `base` + `verified`.
        regime.release()
        # Work counters: one cheap scan of the flat pair table (the smallest
        # frame in the pipeline). A wall-clock efficiency reading alone can't
        # distinguish "the engine scaled badly" from "the workload grew
        # superlinearly" — on boilerplate-heavy corpora the candidate-pair
        # count grows faster than the corpus (near-identical docs pair
        # quadratically within a cluster), so a weak-scaling rung carries
        # more work per doc at 4x. Recording pairs per channel lets the
        # scaling sidecar report work-normalized throughput alongside the
        # raw ratio (BENCH/BASELINE.md round 5).
        stats["n_docs"] = n_docs
        # ONE scan for all work counters (r6: was two jobs — a global agg
        # plus an explode/groupBy): group by the (tiny-cardinality) accepted-
        # channel set + verdict and fold totals/per-channel counts driver-
        # side. Channel attribution of the ACCEPTED pairs only (candidates
        # are merged per-pair upstream in combine_verified, so only the
        # accepting channel set survives to here).
        _rows = (
            verified.groupBy(F.sort_array("channels").alias("chs"), "verdict")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        stats["verified_candidates"] = sum(r["n"] for r in _rows)
        stats["duplicate_pairs"] = sum(r["n"] for r in _rows if r["verdict"])
        _by_ch: dict[str, int] = {}
        for r in _rows:
            if r["verdict"]:
                for ch in r["chs"]:
                    _by_ch[ch] = _by_ch.get(ch, 0) + r["n"]
        stats["dup_pairs_by_channel"] = _by_ch
        # The clusters stage materializes (id, cluster_id) — the smallest
        # frame in the pipeline — so post-return actions (the
        # representatives stage's consumers, catalog writes, API callers)
        # scan it instead of recomputing through the join with `base`,
        # whose blocks are released at return. CC's own last-round blocks
        # go to the (by now empty) sweep and are released as soon as the
        # labels exist.
        clusters = stage(
            "clusters",
            lambda: assign_clusters(base, V.edges(verified), regime),
        )
        regime.release()
        if cfg.rep_score_col is not None:
            # keep-best policy: score is a SQL expression over the INPUT
            # frame (base only carries id/text); ids align because base
            # casts the same column. Double-cast keeps the checkpointed
            # reps schema stable across score expressions.
            scored = docs.select(
                F.col(id_col).cast("string").alias("id"),
                F.expr(cfg.rep_score_col).cast("double").alias("score"),
            )
            reps = stage(
                "representatives",
                lambda: quality_representatives(clusters, scored),
            )
        else:
            reps = stage(
                "representatives", lambda: canonical_representatives(clusters)
            )

        spans = None
        if cfg.extract_spans_group_col is not None:
            # optional span EXTRACTION stage (config.py): groups come from a
            # SQL expression over the INPUT frame (base only carries id/text),
            # so evaluate it there; ids align because base casts the same col
            grouped = docs.select(
                F.col(id_col).cast("string").alias("id"),
                F.col(text_col).alias("text"),
                F.expr(cfg.extract_spans_group_col).alias("span_grp"),
            )
            spans = stage(
                "duplicate_spans",
                lambda: exact_substr_within_groups(
                    grouped, "id", "text", "span_grp", cfg, recorder=rec
                ),
            )

        cleaned = None
        if cfg.remove_spans_group_col is not None:
            # optional span REMOVAL stage: positional spans (keep-SA-first
            # survivor) excised from the RAW text — offsets index text_col
            # as given, so extraction and rewrite see the same column
            from .spans import remove_spans
            from .suffixes import removal_spans_within_groups

            grouped_rm = docs.select(
                F.col(id_col).cast("string").alias("id"),
                F.col(text_col).alias("text"),
                F.expr(cfg.remove_spans_group_col).alias("span_grp"),
            )
            cleaned = stage(
                "docs_cleaned",
                lambda: remove_spans(
                    grouped_rm.drop("span_grp"), "id", "text",
                    removal_spans_within_groups(
                        grouped_rm, "id", "text", "span_grp", cfg, recorder=rec
                    ),
                ),
            )

        # every stage has run, so every observation attached by a computed
        # stage has been filled in by its action
        stats["caps"] = rec.collect_observed()
        stats["broadcast_hydration"] = regime.hydration
        rec.metric("pipeline", "n_docs", n_docs)
        rec.metric("pipeline", "n_verified_edges", stats["duplicate_pairs"])
        rec.flush()
        if ckpt:
            stats["skipped_stages"] = list(ckpt.skipped)
            stats["computed_stages"] = list(ckpt.computed)

        # result frames (verified/clusters/reps) are materialized; base has no
        # remaining consumer and releases on exit. Result frames drop their
        # blocks on unpersist().
    return PipelineResult(
        clusters=clusters, verified=verified, representatives=reps,
        run_id=run_id, stats=stats, duplicate_spans=spans,
        docs_cleaned=cleaned,
    )


def run_transcripts(
    spark: SparkSession,
    turns: DataFrame,
    cfg: DedupConfig,
    channels: tuple[str, ...] = ("minhash_lsh", "simhash", "substr"),
    warehouse: str | None = None,
    run_id: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """Authoritative frontend: turn-level input (BASELINE.json:15 shape).

    C1 turn-version dedupe -> C2 reassembly (stable order) -> document
    engine over doc_text, one row per conversation. conv_id partitioning:
    the groupBy(conv_id) in reassembly is the single shuffle that
    co-locates turns; everything downstream keys on conv_id.
    """
    _check_channels(channels)
    deduped = dedupe_turn_versions(turns)
    convs = reassemble(deduped).select("conv_id", "doc_text")
    return run_documents(
        spark, convs, "conv_id", "doc_text", cfg,
        channels=channels, warehouse=warehouse, run_id=run_id, resume=resume,
    )
