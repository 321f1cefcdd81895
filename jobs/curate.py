"""spark-submit entry point for the FULL training-data curation path:
dedup -> quality gate -> (optional) decontamination -> splits -> packing.

One submit takes a raw transcript table to training-ready artifacts:

  spark-submit --py-files hsip.zip jobs/curate.py \
      --input <turns-parquet-or-iceberg-ident> --warehouse <dir> \
      [--eval-input <benchmark-parquet>] \
      [--splits train:90,val:5,test:5] [--seq-len 2048] [--n-shards 8] \
      [dedup knobs: --channels --jaccard --min-substr-len --collapse-exact ...]

Stages (each an already-oracle-verified operator; this job only
composes them — see COVERAGE.md for the per-operator evidence):

  1. dedup       run_transcripts: C1 turn-version dedupe, C2 reassembly,
                 3-channel candidates, exact verify, CC clusters; keep
                 one representative per cluster.
  2. quality     curation_verdict (C4/Gopher threshold rules) over the
                 kept representatives; drops carry a `reason`.
  3. decontam    substr_decontaminate vs --eval-input (broadcast eval,
                 train side never shuffled for pairing); contaminated
                 training docs are dropped, evidence pairs persisted.
  4. splits      assign_split: content-addressed md5 buckets ->
                 train/val/test, stable under rerun/repartition/append.
  5. packing     pack_sequences over the train split: deterministic
                 (shard, seq_id, offset) slots, no global sort.

Output tables under the warehouse:
  out.<run>.clusters / .representatives   (stage 1)
  out.<run>.curation                      (stage 2 verdict, ALL reps)
  out.<run>.contaminated                  (stage 3 evidence pairs)
  out.<run>.corpus                        (stage 4: id, bucket, split)
  out.<run>.packing                       (stage 5: train-split slots)
plus one JSON funnel line on stdout (counts per stage) for pipeline
dashboards. 100-TB shape: every stage here shuffles keys or slots, never
text, except the dedup input pass itself (DEPLOYMENT.md §8).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--channels", default="minhash_lsh,simhash,substr")
    p.add_argument("--iceberg-catalog", default=None)
    p.add_argument("--master", default=None)
    # dedup knobs (subset of jobs/dedupe.py — same defaults)
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--jaccard", type=float, default=0.7)
    p.add_argument("--min-substr-len", type=int, default=200)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--collapse-exact", action="store_true")
    p.add_argument("--checkpoint-dir", default=None)
    # curation knobs
    p.add_argument("--eval-input", default=None,
                   help="parquet of benchmark/eval docs to decontaminate "
                        "against (broadcast side; training docs sharing "
                        "an exact >= min-substr-len span are dropped)")
    p.add_argument("--eval-id-col", default="eval_id")
    p.add_argument("--eval-text-col", default="text")
    p.add_argument("--splits", default="train:90,val:5,test:5",
                   help="name:percent list; percents must sum to 100")
    p.add_argument("--split-salt", default="",
                   help="decorrelates split buckets from other md5 uses")
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--n-shards", type=int, default=8)
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])

    from pyspark.sql import functions as F

    from hsip.barrier import Regime
    from hsip.catalog import Catalog
    from hsip.config import DedupConfig
    from hsip.packing import pack_sequences
    from hsip.pipeline import run_transcripts
    from hsip.reassemble import dedupe_turn_versions, reassemble
    from hsip.session import get_spark
    from hsip.splits import assign_split
    from hsip.suffixes import substr_decontaminate
    from hsip.textstats import curation_verdict

    spark = get_spark(app_name=f"hsip-curate-{args.run_id or 'new'}",
                      master=args.master)
    cfg = DedupConfig(
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        jaccard_threshold=args.jaccard,
        min_substr_len=args.min_substr_len,
        seed=args.seed,
        collapse_exact=args.collapse_exact,
        cc_checkpoint_dir=args.checkpoint_dir,
    )

    if args.iceberg_catalog:
        turns = spark.read.table(f"{args.iceberg_catalog}.{args.input}")
    else:
        turns = spark.read.parquet(args.input)

    # ---- stage 1: dedup (checkpointed/resumable through run_transcripts)
    res = run_transcripts(
        spark, turns, cfg,
        channels=tuple(args.channels.split(",")),
        warehouse=args.warehouse, run_id=args.run_id, resume=args.resume,
    )
    cat = Catalog(spark, args.warehouse, args.iceberg_catalog)
    cat.write(res.clusters, f"out.{res.run_id}.clusters")
    cat.write(res.representatives, f"out.{res.run_id}.representatives")

    # kept docs = reassembled text of each cluster's representative.
    # reassembly is ONE narrow-keyed shuffle; recomputing it here keeps
    # this job independent of pipeline-internal checkpoint table names.
    docs = reassemble(dedupe_turn_versions(turns)).cache()
    reps = res.representatives.select(
        F.col("representative").alias("conv_id"))
    kept = docs.join(reps, "conv_id", "left_semi").cache()
    n_convs = docs.count()
    n_reps = kept.count()

    # ---- stage 2: quality gate
    verdict = curation_verdict(kept, "conv_id", "doc_text").cache()
    cat.write(verdict, f"out.{res.run_id}.curation")
    passed = kept.join(verdict.filter("keep = 1").select("conv_id"),
                       "conv_id", "left_semi")
    n_quality = passed.count()

    # ---- stage 3: optional decontamination
    n_contaminated = 0
    if args.eval_input:
        evals = spark.read.parquet(args.eval_input)
        with Regime.for_run(cfg) as regime:
            evidence = regime.barrier(substr_decontaminate(
                passed, "conv_id", "doc_text",
                evals, args.eval_id_col, args.eval_text_col, cfg, regime,
            ).filter("verdict"))
        cat.write(evidence, f"out.{res.run_id}.contaminated")
        dirty = evidence.select(F.col("train_id").alias("conv_id")).distinct()
        n_contaminated = dirty.count()
        passed = passed.join(dirty, "conv_id", "left_anti")

    # ---- stage 4: deterministic splits
    pct = {}
    for part in args.splits.split(","):
        name, _, val = part.partition(":")
        pct[name.strip()] = int(val)
    corpus = assign_split(passed.select("conv_id"), "conv_id",
                          splits=pct, salt=args.split_salt).cache()
    cat.write(corpus, f"out.{res.run_id}.corpus")
    split_counts = {r["split"]: r["n"] for r in
                    corpus.groupBy("split").agg(F.count("*").alias("n")).collect()}

    # ---- stage 5: pack the train split ("train" if the --splits list
    # names one, else the first listed split — order carries no meaning)
    train_name = "train" if "train" in pct else next(iter(pct))
    train_docs = passed.join(
        corpus.filter(F.col("split") == train_name).select("conv_id"),
        "conv_id", "left_semi")
    packing = pack_sequences(train_docs, "conv_id", "doc_text",
                             seq_len=args.seq_len, n_shards=args.n_shards,
                             salt=args.split_salt).cache()
    cat.write(packing, f"out.{res.run_id}.packing")
    n_sequences = packing.select("shard", "seq_id").distinct().count()

    funnel = {
        "run_id": res.run_id,
        "n_convs": n_convs,
        "n_after_dedup": n_reps,
        "n_after_quality": n_quality,
        "n_contaminated": n_contaminated,
        "split_counts": split_counts,
        "n_train_sequences": n_sequences,
        "dedup_stats": res.stats,
    }
    print(json.dumps(funnel, default=str))


if __name__ == "__main__":
    main()
