"""spark-submit entry point (BASELINE.json:6: "runs via spark-submit
--py-files on multi-executor clusters").

Usage:
  spark-submit --py-files hsip.zip jobs/dedupe.py \
      --input <path-or-iceberg-ident> --warehouse <dir-or-catalog> \
      [--run-id RUN] [--resume] [--channels minhash_lsh,simhash,substr] \
      [--iceberg-catalog CAT] [--shingle-k 5] [--jaccard 0.7] ...

Input is the authoritative transcript shape (conv_id, turn_idx, role,
text, tool, ts). Output tables land in the warehouse under
out.<run_id>.{clusters,verified,representatives}; per-stage checkpoints
under ckpt.<run_id>.*; lineage + metrics appended.
"""

from __future__ import annotations

import argparse
import os
import sys

# running as a script: make the repo root importable (spark-submit ships
# the package via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path or Iceberg table ident")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true",
                   help="reuse completed stage checkpoints for run-id")
    p.add_argument("--channels", default="minhash_lsh,simhash,substr")
    p.add_argument("--iceberg-catalog", default=None)
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--lsh-bands", type=int, default=32)
    p.add_argument("--lsh-rows", type=int, default=4)
    p.add_argument("--jaccard", type=float, default=0.7)
    p.add_argument("--min-substr-len", type=int, default=200)
    p.add_argument("--simhash-bits", type=int, default=64,
                   help="SimHash fingerprint width: 64 (long) or 128 "
                        "(two array<bigint> lanes, 80-bit probe keys — "
                        "use when the entropy advisory warns, i.e. "
                        "10^9+ distinct docs; DEPLOYMENT.md 6b)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--master", default=None)
    p.add_argument("--checkpoint-dir", default=None,
                   help="fault-tolerant dir for reliable CC round "
                        "checkpoints (default: executor-local, bench-fast)")
    p.add_argument("--collapse-exact", action="store_true",
                   help="exact-collapse pre-pass: near-dup channels run "
                        "on one representative per distinct text; members "
                        "rejoin as verified exact edges (identical "
                        "clusters, candidate work scales with distinct "
                        "texts instead of copy counts)")
    p.add_argument("--tiers", default=None,
                   help="comma-separated Jaccard thresholds (e.g. "
                        "0.5,0.7,0.9): also write out.<run_id>.tiered "
                        "with one cluster label per tier, derived from "
                        "the SAME verified pairs (candidates+verify paid "
                        "once). Pairs verified by non-Jaccard channels "
                        "(simhash/substr — already past their own fixed "
                        "thresholds) count as edges at every tier")
    p.add_argument("--rep-score", default=None,
                   help="SQL expression over the reassembled docs frame "
                        "(e.g. 'length(doc_text)'); keeps the max-score "
                        "member of each cluster instead of the min-id one")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])

    from hsip.catalog import Catalog
    from hsip.config import DedupConfig
    from hsip.pipeline import run_transcripts
    from hsip.session import get_spark

    spark = get_spark(app_name=f"hsip-dedupe-{args.run_id or 'new'}", master=args.master)
    cfg = DedupConfig(
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        lsh_bands=args.lsh_bands,
        lsh_rows=args.lsh_rows,
        jaccard_threshold=args.jaccard,
        min_substr_len=args.min_substr_len,
        simhash_bits=args.simhash_bits,
        seed=args.seed,
        cc_checkpoint_dir=args.checkpoint_dir,
        rep_score_col=args.rep_score,
        collapse_exact=args.collapse_exact,
    )

    if args.iceberg_catalog:
        turns = spark.read.table(f"{args.iceberg_catalog}.{args.input}")
    else:
        turns = spark.read.parquet(args.input)

    res = run_transcripts(
        spark, turns, cfg,
        channels=tuple(args.channels.split(",")),
        warehouse=args.warehouse,
        run_id=args.run_id,
        resume=args.resume,
    )

    cat = Catalog(spark, args.warehouse, args.iceberg_catalog)
    cat.write(res.clusters, f"out.{res.run_id}.clusters")
    cat.write(res.verified, f"out.{res.run_id}.verified")
    cat.write(res.representatives, f"out.{res.run_id}.representatives")
    if args.tiers:
        from pyspark.sql import functions as F

        from hsip.barrier import Regime
        from hsip.cc import tier_score_col, tiered_clusters

        thresholds = tuple(float(x) for x in args.tiers.split(","))
        # fixed-threshold channels (simhash/substr/exact) count at every
        # tier; minhash-only pairs score their exact jaccard — see
        # tier_score_col's docstring for why this keys on channels
        scored = res.verified.filter("verdict").select(
            "a", "b", tier_score_col().alias("score"),
        )
        with Regime.for_run(cfg) as regime:
            tiered = regime.barrier(tiered_clusters(
                res.clusters.select("id"), scored,
                thresholds=thresholds, score_col="score", regime=regime,
            ))
        cat.write(tiered, f"out.{res.run_id}.tiered")
    n = res.clusters.count()
    n_cl = res.representatives.count()
    print(f"run_id={res.run_id} rows={n} clusters={n_cl} stats={res.stats}")
    spark.stop()


if __name__ == "__main__":
    main()
