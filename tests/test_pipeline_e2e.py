"""§5.5 end-to-end: planted-duplicate recall >= 0.99, per-turn equality,
partitioning invariance, resume-from-checkpoint."""

import shutil

import pytest
from pyspark.sql import functions as F

from hsip.config import DedupConfig
from hsip.fixtures.gen import gen_transcripts, to_spark, truth_pairs
from hsip.pipeline import run_documents, run_transcripts
from hsip.recall import cluster_pairs, evaluate_pairs
from hsip.reassemble import audit_turn_equality, dedupe_turn_versions, explode_turns, reassemble


@pytest.fixture(scope="module")
def corpus(spark):
    gen = gen_transcripts(seed=42, n_base=150)
    turns, truth = to_spark(spark, gen)
    return turns.cache(), truth.cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    turns, _ = corpus
    return run_transcripts(spark, turns, DedupConfig())


def test_recall_against_planted_truth(spark, corpus, result):
    _, truth = corpus
    ours = cluster_pairs(result.clusters)
    ev, missed = evaluate_pairs(ours, truth_pairs(truth))
    assert ev.recall >= 0.99, f"recall {ev.recall}: missed {missed.collect()[:10]}"
    assert ev.precision >= 0.95


def test_work_counters_in_stats(spark, corpus, result):
    """Scaling sidecars work-normalize efficiency from these counters:
    they must exist, be internally consistent, and agree with the
    verified frame they summarize."""
    st = result.stats
    assert st["n_docs"] == result.clusters.count()
    assert st["verified_candidates"] == result.verified.count()
    assert st["duplicate_pairs"] == result.verified.filter("verdict").count()
    assert 0 < st["duplicate_pairs"] <= st["verified_candidates"]
    by_ch = st["dup_pairs_by_channel"]
    assert set(by_ch) <= {"minhash_lsh", "simhash", "substr", "exact"}
    # every accepted pair is attributed to >= 1 channel
    assert sum(by_ch.values()) >= st["duplicate_pairs"]


def test_collapse_exact_preserves_clusters(spark, corpus, result):
    """collapse_exact=True must yield byte-identical cluster assignments:
    byte-equal texts have byte-equal features, so substituting the group
    rep changes candidate bookkeeping, never verdicts or components."""
    turns, truth = corpus
    r2 = run_transcripts(spark, turns, DedupConfig(collapse_exact=True))
    a = {r.id: r.cluster_id for r in result.clusters.collect()}
    b = {r.id: r.cluster_id for r in r2.clusters.collect()}
    assert a == b
    # members re-enter as pre-verified exact edges, and the channel work
    # shrank: every exact-copy conversation left the candidate set
    ex = r2.verified.filter(F.array_contains("channels", "exact"))
    n_exact_members = ex.count()
    assert n_exact_members > 0
    assert ex.filter(~F.col("verdict")).count() == 0
    assert "exact_collapse" in r2.stats["stage_walls"]
    assert r2.stats["verified_candidates"] < result.stats["verified_candidates"]
    # planted-truth quality is unchanged
    ours = cluster_pairs(r2.clusters)
    _, truth_df = (turns, truth)
    ev, _ = evaluate_pairs(ours, truth_pairs(truth_df))
    assert ev.recall >= 0.99 and ev.precision >= 0.95


def test_hotband_not_merged(spark, corpus, result):
    """Boilerplate-sharing conversations must NOT cluster together."""
    _, truth = corpus
    hot_ids = {r.conv_id for r in truth.filter("dup_kind = 'hotband'").collect()}
    rows = result.clusters.collect()
    by_cluster = {}
    for r in rows:
        if r.id in hot_ids:
            by_cluster.setdefault(r.cluster_id, []).append(r.id)
    biggest = max(len(v) for v in by_cluster.values())
    assert biggest <= 2, f"hotband merged: cluster of {biggest}"


def test_per_turn_text_equality_invariant(spark, corpus):
    turns, _ = corpus
    deduped = dedupe_turn_versions(turns)
    ours = explode_turns(reassemble(deduped))
    assert audit_turn_equality(ours, deduped).count() == 0
    assert audit_turn_equality(deduped, ours).count() == 0


def test_clusters_invariant_under_repartitioning(spark, corpus):
    turns, _ = corpus
    cfg = DedupConfig()
    r1 = run_transcripts(spark, turns.repartition(1), cfg)
    r17 = run_transcripts(spark, turns.repartition(17), cfg)
    a = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    b = {(r.id, r.cluster_id) for r in r17.clusters.collect()}
    assert a == b


def test_resume_from_checkpoint(spark, corpus, tmp_path_factory):
    """Kill-and-resume equals single run; completed stages are skipped."""
    turns, _ = corpus
    cfg = DedupConfig()
    wh = str(tmp_path_factory.mktemp("warehouse"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    r1 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runA",
    )
    first = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    assert r1.stats["computed_stages"], "first run must compute stages"
    # simulate partial failure: drop the final stages, keep early ones
    shutil.rmtree(f"{wh}/ckpt/runA/clusters")
    shutil.rmtree(f"{wh}/ckpt/runA/verified")
    r2 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runA",
    )
    assert "features" in r2.stats["skipped_stages"]
    assert "clusters" in r2.stats["computed_stages"]
    second = {(r.id, r.cluster_id) for r in r2.clusters.collect()}
    assert first == second


def test_config_change_invalidates_checkpoint(spark, corpus, tmp_path_factory):
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("warehouse2"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    run_documents(
        spark, docs, "conv_id", "doc_text", DedupConfig(),
        channels=("minhash_lsh",), warehouse=wh, run_id="runB",
    )
    r2 = run_documents(
        spark, docs, "conv_id", "doc_text", DedupConfig(shingle_k=7),
        channels=("minhash_lsh",), warehouse=wh, run_id="runB",
    )
    assert not r2.stats["skipped_stages"]


def test_input_change_invalidates_checkpoint(spark, corpus, tmp_path_factory):
    """Same run_id + same config over CHANGED input must recompute, not
    serve stale checkpoints: the stage fingerprint covers input content
    (count + id hashes + sampled row hashes), not just config (ADVICE r2)."""
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("warehouse4"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    run_documents(
        spark, docs, "conv_id", "doc_text", DedupConfig(),
        channels=("minhash_lsh",), warehouse=wh, run_id="runD",
    )
    # drop some rows: same config, same run_id, different data
    changed = docs.filter(F.crc32(F.col("conv_id")) % 5 != 0)
    r2 = run_documents(
        spark, changed, "conv_id", "doc_text", DedupConfig(),
        channels=("minhash_lsh",), warehouse=wh, run_id="runD",
    )
    assert not r2.stats["skipped_stages"], "stale checkpoints served for changed input"
    ids = {r.id for r in r2.clusters.collect()}
    kept = {r.conv_id for r in changed.select("conv_id").collect()}
    assert ids == kept


def test_input_fingerprint_full_row_sensitivity(spark):
    """A SINGLE in-place text edit must flip the input fingerprint — the
    round-3 version summed only a ~1/997 sampled subset of row hashes, so
    ~99.8% of one-row edits resumed from stale checkpoints (ADVICE r3).
    Now every row's (id, text) hash contributes to the sum."""
    from pyspark.sql import Observation

    from hsip.barrier import Regime
    from hsip.checkpoint import fingerprint_aggs, fingerprint_str
    from hsip.metrics import observed

    def input_fingerprint(df):
        # as a warehouse run takes it: observed on the base barrier's pass
        obs = Observation()
        Regime(keep_lineage=True).barrier(df.observe(obs, *fingerprint_aggs())).unpersist()
        return fingerprint_str(observed(obs, "fingerprint"))

    base = spark.range(300).selectExpr(
        "cast(id as string) as id", "concat('text-', id) as text"
    ).cache()
    fp0 = input_fingerprint(base)
    for victim in ("7", "123", "299"):
        edited = base.withColumn(
            "text",
            F.when(F.col("id") == victim, F.concat(F.col("text"), F.lit("!")))
            .otherwise(F.col("text")),
        )
        assert input_fingerprint(edited) != fp0, f"edit to row {victim} undetected"
    # order-insensitive: a reshuffle of identical content is the SAME input
    assert input_fingerprint(base.orderBy(F.desc("id")).repartition(7)) == fp0
    base.unpersist()


def test_pipeline_releases_intermediate_caches(spark):
    """Long-session hygiene (VERDICT.md r3 item 5, ADVICE r6): an ephemeral
    pipeline run must leave ONLY its three result frames holding blocks —
    every feature/band/bucket/base barrier and cache, the channel verify
    outputs and CC's checkpoint blocks are released during the run, so
    sessions running many pipelines don't accrete executor storage. Checked
    on the SparkContext's persisted RDDs, which cover CacheManager caches
    and checkpoint blocks alike; unpersisting the result frames drops the
    rest."""
    sc = spark.sparkContext

    def persisted():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta {i % 7} " * 30) for i in range(40)],
        "id string, text string",
    )
    spark.catalog.clearCache()
    before = persisted()
    res = run_documents(spark, docs, "id", "text", DedupConfig())
    assert len(persisted() - before) == 3, "the three result frames hold blocks"
    for df in (res.verified, res.clusters, res.representatives):
        df.unpersist()
    assert persisted() - before == set(), (
        "pipeline leaked non-result blocks into the session"
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("min_docs", [25_000, 0], ids=["latency", "eager"])
def test_failed_run_releases_blocks_and_restores_conf(spark, monkeypatch, min_docs):
    """A run that fails part-way (a planted failure where the channel
    verdicts combine) leaves no blocks behind and the session's AQE and
    shuffle width as it found them, in either regime; a successful run
    restores them too. The ambient width is set apart from the latency
    regime's derived 8, so a missed restore shows."""
    from hsip import pipeline
    from hsip.barrier import session_conf

    sc = spark.sparkContext
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

    def persisted():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta {i % 7} " * 30) for i in range(40)],
        "id string, text string",
    )
    cfg = DedupConfig(eager_barrier_min_docs=min_docs)
    with session_conf(spark, {"spark.sql.shuffle.partitions": "13"}):
        conf = {k: spark.conf.get(k) for k in keys}
        spark.catalog.clearCache()
        before = persisted()
        res = run_documents(spark, docs, "id", "text", cfg)
        assert res.stats["eager_barriers"] == (min_docs == 0)
        assert {k: spark.conf.get(k) for k in keys} == conf
        for df in (res.verified, res.clusters, res.representatives):
            df.unpersist()
        assert persisted() - before == set()

        def planted(*parts):
            raise RuntimeError("planted failure")

        monkeypatch.setattr(pipeline.V, "combine_verified", planted)
        with pytest.raises(RuntimeError, match="planted failure"):
            run_documents(spark, docs, "id", "text", cfg)
        assert persisted() - before == set(), "a failed run leaked blocks"
        assert {k: spark.conf.get(k) for k in keys} == conf


def test_same_clusters_either_side_of_eager_barrier_min_docs(spark, corpus, result):
    """The barrier threshold is NON-SEMANTIC (config.py): the same corpus
    run just below it (eager regime: AQE on, split verify, materialized
    bucket join-backs) and just above it (latency regime: AQE off, derived
    width, fused verify) gives identical (id, cluster_id) rows — for every
    channel subset the mh/sh chain serves, and for all three channels."""
    turns, _ = corpus
    n = result.stats["n_docs"]
    for channels in (("minhash_lsh",), ("simhash",), ("minhash_lsh", "simhash"),
                     ("minhash_lsh", "simhash", "substr")):
        eager = run_transcripts(spark, turns, DedupConfig(eager_barrier_min_docs=n),
                                channels=channels)
        latency = run_transcripts(spark, turns,
                                  DedupConfig(eager_barrier_min_docs=n + 1),
                                  channels=channels)
        assert eager.stats["eager_barriers"] and not latency.stats["eager_barriers"]
        # the regime's derived width: none when eager, the floor of 8 here
        assert eager.stats["shuffle_width"] is None
        assert latency.stats["shuffle_width"] == 8
        a = {(r.id, r.cluster_id) for r in eager.clusters.collect()}
        b = {(r.id, r.cluster_id) for r in latency.clusters.collect()}
        assert a == b, channels
        assert len(a) == n


def test_simhash_only_edges_equal_brute_force_hamming(spark, corpus):
    """A simhash-only run verifies exactly the pairs within Hamming
    distance hamming_d of each other: the probe tables are exhaustive by
    pigeonhole (hsip/simhash.py hamming_block_table). bucket_cap is
    raised so no bucket is star-paired, the one documented cap on that
    exhaustiveness."""
    from hsip.textkernel import featurize

    turns, _ = corpus
    cfg = DedupConfig(bucket_cap=10_000)
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    res = run_documents(spark, docs, "conv_id", "doc_text", cfg,
                        channels=("simhash",))
    got = {(r.a, r.b) for r in res.verified.filter("verdict").collect()}
    sims = sorted((r.id, r.simhash) for r in
                  featurize(docs, "conv_id", "doc_text", cfg).collect())
    want = {
        (a, b)
        for i, (a, x) in enumerate(sims) for b, y in sims[i + 1:]
        if bin((x ^ y) & (2**64 - 1)).count("1") <= cfg.hamming_d
    }
    assert want and got == want, (len(got), len(want))


def test_channels_validated_at_entry(spark):
    """An empty or misspelled channel list fails fast, naming the valid
    channels, instead of crashing in combine_verified (empty) or silently
    dropping a channel's recall (typo)."""
    docs = spark.createDataFrame([("a", "x y z")], "id string, text string")
    turns = spark.createDataFrame([], "conv_id string, turn_idx int")
    for channels in ((), ("bogus",), ("minhash_lsh", "simhsh")):
        with pytest.raises(ValueError, match="minhash_lsh.*simhash.*substr"):
            run_documents(spark, docs, "id", "text", DedupConfig(),
                          channels=channels)
        with pytest.raises(ValueError, match="minhash_lsh.*simhash.*substr"):
            run_transcripts(spark, turns, DedupConfig(), channels=channels)


def test_hot_bucket_metric_recorded_for_every_requested_channel(spark, tmp_path):
    """"No silent caps": a warehouse run records hot_buckets_star_paired
    for each requested mh/sh channel, 0 included, so "none were hot" and
    "not measured" read differently; unrequested channels get no row. The
    run-level rows carry the counts the run's stats already hold."""
    from hsip.catalog import Catalog

    docs = spark.createDataFrame(
        [(f"d{i}", f"document {i} talks about topic {i * 7} at length " * 5)
         for i in range(12)],
        "id string, text string",
    )
    wh = str(tmp_path / "wh")
    res = run_documents(spark, docs, "id", "text", DedupConfig(),
                        channels=("minhash_lsh",), warehouse=wh, run_id="hot")
    rows = {(r.stage, r.key): r.value
            for r in Catalog(spark, wh).read("metrics").collect()}
    assert rows[("minhash_lsh_candidates", "hot_buckets_star_paired")] == 0
    assert ("simhash_candidates", "hot_buckets_star_paired") not in rows
    assert rows[("pipeline", "n_docs")] == res.stats["n_docs"] == 12
    assert rows[("pipeline", "n_verified_edges")] == res.stats["duplicate_pairs"]


@pytest.mark.parametrize("reliable_cc", [False, True], ids=["cc_local", "cc_reliable"])
def test_warehouse_run_keeps_lineage_barriers(spark, corpus, tmp_path_factory,
                                             monkeypatch, reliable_cc):
    """Warehouse runs are the fault-tolerant mode: in the eager regime,
    where the nested bucket/join-back/hydration barriers engage, every
    barrier outside connected components is cache+count (lineage kept, so
    a lost executor recomputes instead of failing the run), with or
    without cc_checkpoint_dir. CC still truncates its lineage:
    executor-local without cc_checkpoint_dir, reliable with it
    (DEPLOYMENT.md §3), and its checkpoint files are gone after the run."""
    from hsip.barrier import Regime
    from tests.test_barrier import _posture

    seen = []
    sc = spark.sparkContext

    def spy(method):
        def wrapped(self, df, *args, **kw):
            name = args[0] if args else kw.get("name")
            label = name or sc.getLocalProperty("spark.job.description") or ""
            out = method(self, df, *args, **kw)
            seen.append((*_posture(out), label))
            return out
        return wrapped

    for method in ("barrier", "truncate"):
        monkeypatch.setattr(Regime, method, spy(getattr(Regime, method)))
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("wh_kinds"))
    ckpt = tmp_path_factory.mktemp("cc_ckpt") if reliable_cc else None
    cfg = DedupConfig(eager_barrier_min_docs=0,
                      cc_checkpoint_dir=ckpt and str(ckpt))
    res = run_transcripts(spark, turns, cfg, warehouse=wh,
                          run_id=f"kinds_{reliable_cc}")
    assert res.stats["eager_barriers"]
    is_cc = [lbl.removeprefix("hsip:").startswith("cc_") for _, _, lbl in seen]
    outside = [s for s, cc in zip(seen, is_cc) if not cc]
    inside = [s for s, cc in zip(seen, is_cc) if cc]
    # base, the bucket table, both join-backs, the fingerprint table, the
    # substr pairs, the eager verify pair and hydration tables
    assert len(outside) >= 8, seen
    assert all(keep and not rel for keep, rel, _ in outside), seen
    assert inside and all(not keep and rel == reliable_cc
                          for keep, rel, _ in inside), seen
    if reliable_cc:
        assert not any(ckpt.rglob("part-*"))


def test_reliable_barriers_delete_their_files(spark, corpus, result, tmp_path):
    """cc_checkpoint_dir makes an ephemeral run's barriers reliable: same
    clusters, and the run leaves only the three result frames' checkpoint
    files behind, which go when the caller unpersists them."""
    turns, _ = corpus
    ckpt = tmp_path / "ckpt"
    res = run_transcripts(spark, turns, DedupConfig(cc_checkpoint_dir=str(ckpt)))

    def rdd_dirs():
        return {p.parent for p in ckpt.rglob("part-*")}

    assert len(rdd_dirs()) == 3
    a = {(r.id, r.cluster_id) for r in res.clusters.collect()}
    assert a == {(r.id, r.cluster_id) for r in result.clusters.collect()}
    for df in (res.verified, res.clusters, res.representatives):
        df.unpersist()
    assert rdd_dirs() == set()


def test_resume_false_forces_recompute(spark, corpus, tmp_path_factory):
    """--resume off: matching checkpoints exist but every stage recomputes."""
    turns, _ = corpus
    cfg = DedupConfig()
    wh = str(tmp_path_factory.mktemp("warehouse3"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    r1 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runC",
    )
    # collect BEFORE the forced recompute: resume=False overwrites the
    # checkpoint files r1's lazy DataFrame reads from
    first = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    r2 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runC", resume=False,
    )
    assert not r2.stats["skipped_stages"]
    assert r2.stats["computed_stages"]
    assert first == {(r.id, r.cluster_id) for r in r2.clusters.collect()}


def test_pipeline_duplicate_spans_stage(spark, tmp_path_factory):
    """cfg.extract_spans_group_col wires exact_substr_within_groups into
    the pipeline (VERDICT r4 item 8): the duplicate_spans table flows
    through the same stage/checkpoint discipline and matches the direct
    extractor call."""
    from hsip.suffixes import exact_substr_within_groups

    shared = "the quick brown fox jumps over the lazy dog " * 8  # ~350 chars
    rows = [
        ("s1", shared + "unique tail alpha " * 5),
        ("s2", "unique head beta " * 5 + shared),
        ("s3", "completely different content " * 20),
    ]
    docs = spark.createDataFrame(rows, "id string, text string")
    cfg = DedupConfig(extract_spans_group_col="'all'")

    res = run_documents(spark, docs, "id", "text", cfg)
    assert res.duplicate_spans is not None
    got = {(r.a, r.b): r.substr_len for r in res.duplicate_spans.collect()}
    direct = {
        (r.a, r.b): r.substr_len
        for r in exact_substr_within_groups(
            docs.withColumn("g", F.lit("all")), "id", "text", "g", cfg
        ).collect()
    }
    assert got == direct and ("s1", "s2") in got
    assert got[("s1", "s2")] >= cfg.min_substr_len
    assert "duplicate_spans" in res.stats["stage_walls"]

    # checkpointed mode persists the table under the run
    wh = str(tmp_path_factory.mktemp("wh_spans"))
    res2 = run_documents(
        spark, docs, "id", "text", cfg, warehouse=wh, run_id="spanrun"
    )
    from hsip.catalog import Catalog

    cat = Catalog(spark, wh)
    assert cat.exists("ckpt.spanrun.duplicate_spans"), (
        "duplicate_spans stage not checkpointed"
    )
    assert {(r.a, r.b) for r in res2.duplicate_spans.collect()} == set(got)

    # flag off (default): no extra stage, result field is None
    res3 = run_documents(spark, docs, "id", "text", DedupConfig())
    assert res3.duplicate_spans is None


def test_pipeline_docs_cleaned_stage(spark):
    """cfg.remove_spans_group_col wires the removal rewrite into the
    pipeline: docs_cleaned carries the excised text, no cross-doc span
    >= min_len survives, and one intact copy remains."""
    from hsip.suffixes import duplicate_spans_local

    shared = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        ("r1", shared + "unique tail alpha " * 5),
        ("r2", "unique head beta " * 5 + shared),
        ("r3", "completely different content " * 20),
    ]
    docs = spark.createDataFrame(rows, "id string, text string")
    cfg = DedupConfig(remove_spans_group_col="'all'")

    res = run_documents(spark, docs, "id", "text", cfg)
    assert res.docs_cleaned is not None
    cleaned = {r["id"]: r["text_clean"] for r in res.docs_cleaned.collect()}
    assert duplicate_spans_local(cleaned, cfg.min_substr_len) == []
    assert sum(shared in t for t in cleaned.values()) == 1
    assert cleaned["r3"] == rows[2][1]
    assert "docs_cleaned" in res.stats["stage_walls"]


def test_rep_score_col_keeps_best_member(spark):
    """cfg.rep_score_col switches X3 to the keep-best policy: the
    representative of each cluster is its max-score member (ties max
    id), and the fingerprint treats the policy as semantic."""
    base = "the quick brown fox jumps over the lazy dog " * 30
    rows = [
        ("short", base),
        ("longer", base + "extra tail content here"),
        ("longest", base + "extra tail content here and even more"),
        ("solo", "completely unrelated text about something else " * 30),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    cfg = DedupConfig(jaccard_threshold=0.6, rep_score_col="length(text)")
    res = run_documents(spark, docs, "doc_id", "text", cfg,
                        channels=("minhash_lsh",))
    reps = {r.cluster_id: (r.representative, r.cluster_size)
            for r in res.representatives.collect()}
    by_size = {v[1]: v[0] for v in reps.values()}
    assert by_size[3] == "longest"   # best (longest) member kept
    assert by_size[1] == "solo"      # singleton keeps itself
    assert "rep_score" in res.representatives.columns
    assert cfg.fingerprint() != DedupConfig(
        jaccard_threshold=0.6).fingerprint()


def test_collapse_exact_degenerate_corpora(spark):
    """All-identical and all-distinct corpora through collapse mode: the
    two ends of the copy-multiplicity spectrum the pre-pass exists for."""
    n = 40
    same = spark.createDataFrame(
        [(i, "the same exact document text repeated verbatim") for i in range(n)],
        "doc_id int, text string",
    )
    r = run_documents(spark, same, "doc_id", "text",
                      DedupConfig(collapse_exact=True))
    assert r.clusters.select("cluster_id").distinct().count() == 1
    ex = r.verified.filter(F.array_contains("channels", "exact"))
    assert ex.count() == n - 1          # every member -> the min-id rep
    assert r.stats["n_docs"] == n
    assert r.representatives.count() == 1

    distinct = spark.createDataFrame(
        [(i, f"completely unrelated document number {i} "
             f"with its own vocabulary token{i}a token{i}b") for i in range(n)],
        "doc_id int, text string",
    )
    r2 = run_documents(spark, distinct, "doc_id", "text",
                       DedupConfig(collapse_exact=True))
    assert r2.clusters.select("cluster_id").distinct().count() == n
    assert r2.verified.filter(F.array_contains("channels", "exact")).count() == 0


def test_collapse_exact_checkpoint_resume(spark, corpus, tmp_path_factory):
    """The collapse stage participates in the checkpoint/resume contract:
    a resumed run skips it and still reproduces identical clusters."""
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("wh_collapse"))
    cfg = DedupConfig(collapse_exact=True)
    r1 = run_transcripts(spark, turns, cfg, warehouse=wh, run_id="ck")
    r2 = run_transcripts(spark, turns, cfg, warehouse=wh, run_id="ck")
    assert "exact_collapse" in r2.stats["skipped_stages"]
    a = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    b = {(r.id, r.cluster_id) for r in r2.clusters.collect()}
    assert a == b


def _planted_caps_docs(spark):
    """Ten near-copies of one long boilerplate text (hot LSH, Hamming and
    fingerprint buckets, and pairs sharing far more anchors than the cap)
    among thirty unrelated documents."""
    shared = " ".join(f"boiler{i} plate{i * 3} text{i * 7}" for i in range(60))
    rows = [(f"h{i:02d}", f"{shared} tail unique {i} words {i * 13}") for i in range(10)]
    rows += [(f"u{i:02d}", " ".join(f"w{i}_{j}" for j in range(80))) for i in range(30)]
    return spark.createDataFrame(rows, "id string, text string")


def _planted_caps_cfg(min_docs):
    return DedupConfig(bucket_cap=4, substr_bucket_cap=4, max_anchors_per_pair=2,
                       min_substr_len=60, winnow_window=20,
                       eager_barrier_min_docs=min_docs)


@pytest.mark.parametrize("min_docs", [0, 25_000])
def test_cap_counts_identical_in_ephemeral_and_warehouse_runs(spark, tmp_path, min_docs):
    """"No silent caps" in both modes: a planted hot bucket and anchor
    overflow give the same counts in an ephemeral and a warehouse run, in
    the eager and the latency regime, equal to the direct counts over the
    hot-bucket stats (``hot.count()``) and the anchor-truncation filter.
    The counts land in stats and, with a warehouse, in the metrics table;
    the broadcast-hydration decisions land in stats in both modes."""
    from hsip.barrier import Regime
    from hsip.catalog import Catalog
    from hsip.lsh import channel_bucket_table, pairs_from_buckets
    from hsip.suffixes import fingerprint_table, substr_candidates
    from hsip.textkernel import featurize

    docs = _planted_caps_docs(spark)
    cfg = _planted_caps_cfg(min_docs)
    both = channel_bucket_table(featurize(docs, "id", "text", cfg), cfg,
                                ("minhash_lsh", "simhash")).cache()
    _, hot = pairs_from_buckets(both, cfg.bucket_cap,
                                bucket_cols=("channel", "bkt_id", "bkt_hash"),
                                channel=None, payload_cols=("simhash",))
    n_hot = {r["channel"]: r["count"] for r in hot.groupBy("channel").count().collect()}
    with Regime() as regime:
        sub_pairs, sub_hot = substr_candidates(
            fingerprint_table(docs, "id", "text", cfg), cfg, regime)
        want = {
            "minhash_lsh_candidates": {"hot_buckets_star_paired": n_hot["minhash_lsh"]},
            "simhash_candidates": {"hot_buckets_star_paired": n_hot["simhash"]},
            "substr_candidates": {
                "hot_fingerprints_star_paired": sub_hot.count(),
                "anchor_truncated_pairs": sub_pairs.filter(
                    F.col("n_anchors") > cfg.max_anchors_per_pair).count(),
            },
        }
    both.unpersist()
    assert all(v > 0 for d in want.values() for v in d.values()), want

    eph = run_documents(spark, docs, "id", "text", cfg)
    wh = str(tmp_path / "wh")
    ware = run_documents(spark, docs, "id", "text", cfg, warehouse=wh, run_id="caps")
    assert eph.stats["caps"] == ware.stats["caps"] == want
    rows = {(r.stage, r.key): r.value
            for r in Catalog(spark, wh).read("metrics").collect()}
    for stage, kv in want.items():
        for key, v in kv.items():
            assert rows[(stage, key)] == v
    for res in (eph, ware):
        hyd = res.stats["broadcast_hydration"]
        assert set(hyd) == {"verify_mh_sh", "verify_substr"}
        for d in hyd.values():
            assert isinstance(d["broadcast"], bool)
            # a broadcast is only taken on measured bytes
            assert not d["broadcast"] or d["measured_size_bytes"] is not None


def test_resumed_completed_run_skips_everything_and_keeps_lineage(spark, tmp_path):
    """Resuming a completed warehouse run skips every stage, reads no
    observation (none was attached: nothing computed), finishes promptly
    and records lineage again from the committed files. Each stage's
    lineage rows sum to the stage's row count."""
    import threading

    from hsip.catalog import Catalog

    docs = _planted_caps_docs(spark)
    cfg = _planted_caps_cfg(25_000)
    wh = str(tmp_path / "wh")
    first = run_documents(spark, docs, "id", "text", cfg, warehouse=wh, run_id="rs")
    cat = Catalog(spark, wh)
    lin = cat.read("lineage").collect()
    stages = first.stats["computed_stages"]
    assert {r.stage for r in lin} == set(stages)
    for st in stages:
        assert sum(r.rows for r in lin if r.stage == st) == \
            cat.read(f"ckpt.rs.{st}").count(), st

    out = {}

    def resume():
        out["res"] = run_documents(spark, docs, "id", "text", cfg, warehouse=wh,
                                   run_id="rs")

    t = threading.Thread(target=resume, daemon=True)
    t.start()
    t.join(timeout=180)
    assert not t.is_alive(), "resume of a completed run did not finish"
    res = out["res"]
    # the channel threads finish in either order
    assert sorted(res.stats["skipped_stages"]) == sorted(stages)
    assert not res.stats["computed_stages"]
    assert res.stats["caps"] == {}
    again = cat.read("lineage").collect()
    assert len(again) == 2 * len(lin)
    for st in stages:
        assert sum(r.rows for r in again if r.stage == st) == \
            2 * sum(r.rows for r in lin if r.stage == st)
