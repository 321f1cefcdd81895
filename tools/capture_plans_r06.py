"""Capture `.explain("formatted")` evidence for the round-6 plan diffs.

Usage:  python tools/capture_plans_r06.py <outdir> <suffix>
        (run once against the round-5 tree with suffix "before" and once
        against the round-6 tree with suffix "after")

Driver-only — builds the logical chains the pipeline wires up, in the
latency regime the sf0.1 corpus runs in (`hsip.barrier.Regime`), and
prints their physical plans without executing them, plus the headline
relational queries; the fused mh+sh bucket table comes from
`hsip.lsh.channel_bucket_table`.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.getcwd())

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
    n_ex = buf.getvalue().count("Exchange")
    print(f"wrote {path} (Exchange mentions: {n_ex})")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from hsip.barrier import Barrier, Regime
    from hsip.config import DedupConfig
    from hsip.lsh import channel_bucket_table, pairs_from_buckets
    from hsip.session import get_spark
    from hsip.suffixes import fingerprint_table, substr_candidates, verify_substr
    from hsip.textkernel import featurize
    from hsip import verify as V

    spark = get_spark(app_name=f"plans-{SUFFIX}", master="local[4]")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = DedupConfig(jaccard_threshold=0.7)
    base = docs.select(
        F.col("doc_id").cast("string").alias("id"), F.col("text")
    )

    # --- substr channel: candidates -> span verify (the V4 chain) ---
    regime = Regime(Barrier(), width=8)
    fps = fingerprint_table(base, "id", "text", cfg)
    pairs, _hot = substr_candidates(fps, cfg, regime)
    sub_verified = verify_substr(pairs, base, "id", "text", cfg, regime)
    explain_to(sub_verified, "verify_substr")

    # --- fused mh+sh channel: union buckets -> pairs -> verify ---
    feats = featurize(base, "id", "text", cfg)
    both = channel_bucket_table(feats, cfg, ("minhash_lsh", "simhash"))
    mhsh_pairs, _hot2 = pairs_from_buckets(
        both, cfg.bucket_cap, bucket_cols=("channel", "bkt_id", "bkt_hash"),
        channel=None, hot_policy=cfg.hot_bucket_policy, salt_seed=cfg.seed,
        payload_cols=("simhash",), regime=regime,
    )
    mhsh_verified = V.verify_jaccard_hamming(mhsh_pairs, feats, cfg, regime)
    explain_to(mhsh_verified, "verify_mh_sh")

    # --- combined verdict table (pre-checkpoint logical shape) ---
    explain_to(V.combine_verified(mhsh_verified, sub_verified), "verified")

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
