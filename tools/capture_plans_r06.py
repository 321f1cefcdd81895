"""Capture `.explain("formatted")` evidence for the round-6 plan diffs.

Usage:  python tools/capture_plans_r06.py <outdir> <suffix>
        (run once against the round-5 tree with suffix "before" and once
        against the round-6 tree with suffix "after")

Builds the chains the pipeline wires up on the `transcripts-eager`
benchmark workload's corpus (`gen_transcripts(42, 1000)`, reassembled),
under an ephemeral run's `hsip.barrier.Regime`: the barriers execute, as
in a run, so the `eager_*` plans show the join strategies chosen over the
materialized leaves. Then the headline relational queries. Each written
plan's line reports its join operators.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

# import hsip from this checkout, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = sys.argv[1] if len(sys.argv) > 1 else "plans/r06"
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "after"


def explain_to(df, name: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    path = os.path.join(OUT, f"{name}_{SUFFIX}.txt")
    with open(path, "w") as f:
        f.write(buf.getvalue())
    text = buf.getvalue()
    joins = {j: len(re.findall(rf"^\(\d+\) {j}\b", text, re.M)) for j in
             ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")}
    print(f"wrote {path} (Exchange mentions: {text.count('Exchange')}; "
          f"joins: {joins})")


def explain_eager_transcripts(spark) -> None:
    """The mh/sh and substr chains as an ephemeral run places them
    (hsip/pipeline.py), hot-bucket and truncation counts observed."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from hsip import schemas
    from hsip import verify as V
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.fixtures.gen import gen_transcripts
    from hsip.lsh import mh_sh_candidates
    from hsip.reassemble import dedupe_turn_versions, reassemble
    from hsip.suffixes import fingerprint_table, substr_candidates, verify_substr
    from hsip.textkernel import featurize

    pdf = gen_transcripts(seed=42, n_base=1000).transcripts
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    turns = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    cfg = DedupConfig()
    regime = Regime()
    try:
        base = regime.reused(reassemble(dedupe_turn_versions(turns)).select(
            F.col("conv_id").alias("id"), F.col("doc_text").alias("text")))
        feats = regime.reused(featurize(base, "id", "text", cfg))
        pairs = mh_sh_candidates(
            feats, cfg, ("minhash_lsh", "simhash"), regime,
            {"minhash_lsh": Observation(), "simhash": Observation()})
        explain_to(pairs, "eager_candidates_mh_sh")
        explain_to(V.verify_jaccard_hamming(pairs, feats, cfg, regime),
                   "eager_verify_mh_sh")
        fps = regime.reused(fingerprint_table(base, "id", "text", cfg))
        sub, _ = substr_candidates(fps, cfg, regime, hot_counts=Observation(),
                                   truncated=Observation())
        explain_to(sub, "eager_substr_candidates")
        explain_to(verify_substr(sub, base, "id", "text", cfg, regime),
                   "eager_verify_substr")
    finally:
        regime.release()


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    import __spark_entry__ as E

    from hsip.session import get_spark

    spark = get_spark(app_name=f"plans-{SUFFIX}", master="local[4]")
    explain_eager_transcripts(spark)

    # --- headline relational queries (declared contract queries) ---
    explain_to(E.q1_pricing_summary(spark, SF_DIR), "q1_pricing_summary")
    explain_to(E.q3_top_revenue_orders(spark, SF_DIR), "q3_top_revenue_orders")
    explain_to(E.window_top2_per_order(spark, SF_DIR), "window_top2_per_order")
    explain_to(E.events_burst_pairs(spark, SF_DIR), "events_burst_pairs")
    explain_to(E.embedding_topk_neighbors(spark, SF_DIR),
               "embedding_topk_neighbors")
    spark.stop()


if __name__ == "__main__":
    main()
