"""Physical-plan invariant tests — PLANS.md, enforced.

PLANS.md documents the plan shapes the engine depends on at 100 TB
(pushdown, pruning, broadcast dims, single-shuffle reassembly, Arrow-only
Python boundaries). Prose can drift from code; these tests re-derive each
claim from `explainString` on every run so a regression that silently
changes a plan shape (a lost filter pushdown, a new shuffle, a
row-at-a-time Python operator sneaking into the hot path) fails CI
instead of surfacing as a 10x slowdown at scale.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from hsip.config import DedupConfig
from hsip.redact import redact_pii
from hsip.reassemble import reassemble
from hsip.splits import assign_split
from hsip.textkernel import featurize

SF = "/root/testdata/sf0.001"
REPO = pathlib.Path(__file__).resolve().parent.parent


def plan(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jmode.fromString(mode))


def shuffle_count(plan_str: str) -> int:
    """Shuffle exchanges only — BroadcastExchange is not a shuffle.

    Formatted explain prints every node twice (tree + per-node detail);
    count the detail headers, which are unambiguous one-per-node.
    """
    return len(re.findall(r"^\(\d+\) Exchange\b", plan_str, re.M))


# ---------------------------------------------------------------------------
# Catalyst freebies the engine relies on (PLANS.md §1-2)
# ---------------------------------------------------------------------------

def test_q1_filter_pushdown_and_column_pruning(spark):
    p = plan(entrymod.queries()["q1_pricing_summary"](spark, SF))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert pushed is not None, p
    assert "l_shipdate" in pushed.group(1), pushed.group(1)
    read = re.search(r"ReadSchema: ([^\n]*)", p)
    assert read is not None, p
    # 6 of lineitem's columns, not all: the widest column must be pruned
    assert "l_comment" not in read.group(1)
    assert "l_returnflag" in read.group(1)


def test_q5_dimension_joins_broadcast(spark):
    p = plan(entrymod.queries()["q5_region_order_volume"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 2, p
    # nation/region carry explicit hints -> broadcast even pre-AQE
    assert "BroadcastExchange" in p


def test_topk_is_take_ordered_not_global_sort(spark):
    p = plan(entrymod.queries()["topk_expensive_lineitems"](spark, SF))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p


# ---------------------------------------------------------------------------
# Shuffle inventory (PLANS.md §"Shuffle inventory")
# ---------------------------------------------------------------------------

def test_reassembly_is_exactly_one_shuffle(spark):
    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi", "", None), ("c1", 1, "asst", "yo", "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    p = plan(reassemble(turns))
    assert shuffle_count(p) == 1, p
    assert re.search(r"hashpartitioning\(conv_id", p), p


def test_assign_split_is_pure_projection(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(assign_split(docs, "doc_id", salt="exp1"))
    assert shuffle_count(p) == 0, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_redact_pii_is_pure_projection(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(redact_pii(docs, "text"))
    assert shuffle_count(p) == 0, p
    assert "EvalPython" not in p  # pure JVM regexp codegen


def test_char_entropy_is_pure_projection(spark):
    from pyspark.sql import functions as F

    from hsip.textstats import char_entropy_col

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(docs.select("doc_id", char_entropy_col(F.col("text")).alias("h")))
    assert shuffle_count(p) == 0, p
    assert "EvalPython" not in p  # per-row array math in codegen


def test_latency_verify_hydration_broadcasts_known_small_features(spark):
    """verify_jaccard_hamming broadcasts the pruned feature side when its
    MEASURED size fits the gate: both hydration joins become
    BroadcastHashJoin (no SortMergeJoin, so the pair rows never shuffle).
    The gate reads the barrier's block-manager measurement
    (hsip/barrier.py) of the pruned table; an unmeasured frame declines
    — fail-safe. The plan is printed with Catalyst's own auto-broadcast
    off, so the broadcast can only come from the gate's hint."""
    from hsip.barrier import Regime
    from hsip.verify import verify_jaccard_hamming

    cfg = DedupConfig(jaccard_threshold=0.5, hamming_d=3)
    raw = spark.createDataFrame(
        [("a", [1, 2, 3, 4], 0), ("b", [1, 2, 3, 9], 1), ("c", [7, 8], 63)],
        "id string, shingles array<long>, simhash long",
    )
    feats = Regime().barrier(raw)
    # simhash pairs carry their payload, as pairs_from_buckets emits them
    pairs = spark.createDataFrame(
        [("a", "b", "minhash_lsh", None, None), ("a", "c", "simhash", 0, 63)],
        "a string, b string, channel string, simhash_a long, simhash_b long",
    )
    try:
        with Regime() as regime:
            out = verify_jaccard_hamming(pairs, feats, cfg, regime)
            with _no_auto_broadcast(spark):
                p = plan(out)
            assert regime.hydration["verify_mh_sh"]["broadcast"]
        assert "BroadcastHashJoin" in p, p
        assert "SortMergeJoin" not in p, p
        assert not Regime().broadcastable("raw", raw)
    finally:
        feats.unpersist()


def test_pipeline_latency_features_broadcast_through_barrier(spark):
    """The pipeline's own path: featurize, then the barrier the features
    stage uses, then verify — BroadcastHashJoin only, with the gate
    reading the pruned table's barrier measurement."""
    from hsip.barrier import Regime
    from hsip.verify import verify_jaccard_hamming

    cfg = DedupConfig()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    feats = Regime().barrier(featurize(docs, "doc_id", "text", cfg))
    try:
        with Regime() as regime:
            out = verify_jaccard_hamming(_pairs_over(spark, feats), feats, cfg, regime)
            with _no_auto_broadcast(spark):
                p = plan(out)
        assert "BroadcastHashJoin" in p, p
        assert "SortMergeJoin" not in p, p
    finally:
        feats.unpersist()


def test_pipeline_latency_features_broadcast_from_warehouse(spark, tmp_path):
    """Warehouse runs hand verify the features stage read back from its
    parquet checkpoint (Catalog.read), not a barrier frame, and their
    regime keeps lineage: the pruned table passes a cache+count barrier,
    which measures it, so verify still broadcasts it."""
    from hsip.barrier import Regime, measured_size_bytes
    from hsip.catalog import Catalog
    from hsip.verify import verify_jaccard_hamming

    cfg = DedupConfig()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.write(featurize(docs, "doc_id", "text", cfg), "ckpt.plan.features")
    feats = catalog.read("ckpt.plan.features")
    assert 0 < measured_size_bytes(feats) < 256 * 1024 * 1024
    with Regime(keep_lineage=True) as regime:
        out = verify_jaccard_hamming(_pairs_over(spark, feats), feats, cfg, regime)
        with _no_auto_broadcast(spark):
            p = plan(out)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def _pairs_over(spark, feats):
    """One minhash and one simhash pair over ``feats``, the simhash pair
    carrying its payload as pairs_from_buckets emits it."""
    r = feats.select("id", "simhash").limit(3).collect()
    return spark.createDataFrame(
        [(r[0].id, r[1].id, "minhash_lsh", None, None),
         (r[0].id, r[2].id, "simhash", r[0].simhash, r[2].simhash)],
        "a string, b string, channel string, simhash_a long, simhash_b long",
    )


def _no_auto_broadcast(spark):
    """Catalyst's own size-based broadcast off, so a BroadcastHashJoin in
    the plan can only come from the gate's explicit hint."""
    from hsip.barrier import session_conf

    return session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})


def test_eager_substr_hydration_broadcasts_known_small_text(spark):
    """verify_substr: the pruned text table goes through the barrier,
    which keeps its hash layout and measures it; known small, it is
    broadcast into both hydration joins, so neither the pair rows nor
    the corpus text is re-shuffled (no SortMergeJoin over the text)."""
    from hsip.barrier import Regime
    from hsip.suffixes import verify_substr

    cfg = DedupConfig()
    docs = spark.createDataFrame(
        [("a", "x" * 300), ("b", "x" * 300), ("c", "y" * 300)],
        "id string, text string",
    )
    pairs = spark.createDataFrame(
        [("a", "b", [0], [0])],
        "a string, b string, pos_as array<int>, pos_bs array<int>",
    )
    regime = Regime()
    out = verify_substr(pairs, docs, "id", "text", cfg, regime)
    try:
        p = plan(out)
        assert p.count("BroadcastHashJoin") >= 2, p
        assert "SortMergeJoin" not in p, p
        assert [(r.a, r.b, r.verdict) for r in out.collect()] == [("a", "b", True)]
    finally:
        regime.release()


# ---------------------------------------------------------------------------
# Python boundaries: Arrow-batched only, never row-at-a-time (PLANS.md §4)
# ---------------------------------------------------------------------------

def test_featurize_boundary_is_arrow_batched(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    p = plan(featurize(docs, "doc_id", "text", DedupConfig()))
    assert "MapInArrow" in p, p
    assert "BatchEvalPython" not in p


# Lazy contract queries (construction runs no Spark actions) spanning the
# relational, text-analysis, and curation surfaces. Pipeline queries that
# materialize caches during construction are exercised by their own e2e
# tests; their Python boundary is pinned via featurize above.
LAZY_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_order_volume",
    "outer_join_customer_orders",
    "anti_join_customers_without_orders",
    "semi_join_parts_ordered",
    "window_top2_per_order",
    "latest_order_per_customer",
    "topk_expensive_lineitems",
    "events_daily_rollup",
    "events_json_extract",
    "events_burst_pairs",
    "events_type_map_profile",
    "dedup_exact_clusters",
    "dedup_exact_pairs",
    "token_jaccard_pairs",
    "doc_stats",
    "doc_quality_scores",
    "doc_fingerprints",
    "token_counts",
    "quality_signals",
    "lang_id_heuristic",
    "pii_redacted_docs",
    "doc_split_assignment",
    "doc_tfidf_top_terms",
    "doc_repetition_signals",
    "paragraph_dup_stats",
    "doc_chunks",
    "video_frame_samples",
    "embedding_topk_neighbors",
]


@pytest.mark.parametrize("name", LAZY_QUERIES)
def test_no_row_at_a_time_python_in_contract_query(spark, name):
    q = entrymod.queries()[name]
    p = plan(q(spark, SF))
    assert "BatchEvalPython" not in p, f"{name} plans row-at-a-time Python:\n{p}"


def test_no_plain_python_udf_in_source():
    """input_hint: 'vectorized pandas/Arrow UDFs (no per-row Python)'.

    Enforced at the source level: no F.udf / @udf anywhere in hsip/ or
    the contract entry module (pandas_udf and the Arrow map/apply family
    are the allowed Python boundary).
    """
    plain = re.compile(r"(?<!pandas_)\budf\s*\(")
    offenders = []
    files = sorted((REPO / "hsip").rglob("*.py")) + [REPO / "__spark_entry__.py"]
    for f in files:
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if plain.search(line) and "pandas_udf" not in line:
                offenders.append(f"{f.name}:{i}: {line.strip()}")
    assert not offenders, offenders
